"""Seeded REST request mix and its oracle for the `nna` workload.

The mix repeats one session: the requests the program's bundled dashboard
(src/main/resources/graft/webui/index.html) sends for a page load and a
few explorer runs — Chart.js /histogram with top=20, nested-JSON
/histogram2, /suggestions, /top, /users, /directories — beside one call of
each scripted API use the dashboard lacks: /filter (sums, join-backed
quota and subtree filters, a what-if transform), /divide,
/contentSummary, /sql, /dump and a parentDir histogram. Plan shapes repeat
while literals vary.

The served namespace is the base fsimage of `gen_tail.py`. The oracle runs
each distinct request once in DuckDB over that image's flat ground truth
(written by `tools/gen_fsimage_xml.py`), mapped to the engine's columns;
the census-served answers (/suggestions, /top, /users) are checked against
the per-file census contributions `gen_tail.py` replays.
"""
import csv
import json
import os
import random
import urllib.parse

import duckdb

import gen_tail

SEQUENCE = 20_000
NOW_MS = gen_tail.NOW_MS
DAY_MS = gen_tail.DAY_MS

USERS = ["alice", "bob", "carol", "hdfs"]
EXTS = ["parquet", "csv", "log", "gz"]
SIZES = [0, 1024, 1048576, 16777216, 134217728]
BATCH_DIRS = [f"/data/raw/2024/b{k:05d}" for k in range(gen_tail.FILES // 1000 + 1)]

SPACE_CASE = ("CASE WHEN fileSize <= 0 THEN '0 B' WHEN fileSize <= 1024 THEN '1 KB' "
              "WHEN fileSize <= 1048576 THEN '1 MB' WHEN fileSize <= 16777216 THEN '16 MB' "
              "WHEN fileSize <= 67108864 THEN '64 MB' WHEN fileSize <= 134217728 THEN '128 MB' "
              "WHEN fileSize <= 268435456 THEN '256 MB' WHEN fileSize <= 536870912 THEN '512 MB' "
              "WHEN fileSize <= 1073741824 THEN '1 GB' ELSE '1 GB+' END")
STORAGE_CASE = ("CASE WHEN storagePolicyId = 15 THEN 'LAZY_PERSIST' "
                "WHEN storagePolicyId = 12 THEN 'ALL_SSD' WHEN storagePolicyId = 10 THEN 'ONE_SSD' "
                "WHEN storagePolicyId = 7 THEN 'HOT' WHEN storagePolicyId = 5 THEN 'WARM' "
                "WHEN storagePolicyId = 2 THEN 'COLD' WHEN storagePolicyId = 1 THEN 'PROVIDED' "
                "ELSE 'NO_MAPPING' END")
# FileTypes.classify on the names the image generator writes
FILETYPE_CASE = ("CASE WHEN name LIKE '%.parquet' THEN 'PARQUET' WHEN name LIKE '%.csv' THEN 'CSV' "
                 "WHEN name LIKE '%.log' THEN 'LOG' WHEN name LIKE '%.gz' THEN 'GZIP' "
                 "ELSE 'UNKNOWN' END")
TIME_UNITS = {"weekly": (7 * DAY_MS, 49, "Weeks"), "monthly": (30 * DAY_MS, 23, "Months"),
              "yearly": (365 * DAY_MS, 4, "Years")}
SUM_SQL = {"count": "COUNT(*)", "fileSize": "SUM(fileSize)",
           "diskspaceConsumed": "SUM(fileSize * fileReplica)"}


def time_case(column, time_range):
    """`Histograms.timeBucket`: ceil(age / unit) bins from 1, an overflow bin,
    and NO_MAPPING for times after the pinned now."""
    unit, bins, name = TIME_UNITS[time_range]
    idx = f"GREATEST(CAST(CEIL(({NOW_MS} - {column}) / {unit}.0) AS BIGINT), 1)"
    return (f"CASE WHEN {NOW_MS} - {column} < 0 THEN 'NO_MAPPING' "
            f"WHEN {idx} <= {bins} THEN CAST({idx} AS VARCHAR) || ' {name}' "
            f"ELSE '{bins} {name}+' END")


# ---- the templates: builder(rng) -> (endpoint, params, oracle, answer shape);
# the oracle is DuckDB SQL, or the census endpoint's parameter for the
# census-served shapes

# the dashboard's histogram explorer (src/main/resources/graft/webui/
# index.html, drawHistogram): group-by types from /histograms, sums from
# /sums, an optional free-text filter, top 20, default (Chart.js) output;
# it sends no timeRange or parentDirDepth, so time keys use weekly bins
HIST_KEYS = {"user": '"user"', "fileType": FILETYPE_CASE, "fileSize": SPACE_CASE,
             "storageType": STORAGE_CASE, "modTime": time_case("modTime", "weekly"),
             "accessTime": time_case("accessTime", "weekly")}
TOP = 20


def _dash_filter(r):
    """None, or a filter as typed into the explorer, with its SQL."""
    k = r.randrange(4)
    if k == 0:
        v = r.choice(SIZES[1:])
        return f"fileSize:gte:{v}", f"fileSize >= {v}"
    if k == 1:
        u = r.choice(USERS)
        return f"user:eq:{u}", f"\"user\" = '{u}'"
    if k == 2:
        d = r.choice([30, 365])
        return f"modTime:olderThanDays:{d}", f"modTime <= {NOW_MS - d * DAY_MS}"
    return None, None


def _chart(params, key_sql, agg, where):
    """A default-output /histogram: the chart's labels and data, largest
    value first, ties by key, as the top-N plan orders them."""
    return ("histogram", params,
            f"SELECT k, v FROM (SELECT {key_sql} AS k, {agg} AS v FROM inodes "
            f"WHERE {where} GROUP BY 1) ORDER BY v DESC, k ASC LIMIT {TOP}", "chart")


def _explore(htype=None, hsum=None, filtered=True):
    def build(r):
        t = htype or r.choice(list(HIST_KEYS))
        s = hsum or r.choice(list(SUM_SQL))
        params = {"set": "files", "type": t, "sum": s, "top": str(TOP)}
        where = "isFile"
        f, f_sql = _dash_filter(r) if filtered else (None, None)
        if f:
            params["filters"] = f
            where += f" AND {f_sql}"
        return _chart(params, HIST_KEYS[t], SUM_SQL[s], where)
    return build


def _explore2(r):
    t2 = r.choice(["fileType", "storageType", "fileSize"])
    s = r.choice(list(SUM_SQL))
    params = {"set": "files", "type": "user", "type2": t2, "sum": s}
    where = "isFile"
    f, f_sql = _dash_filter(r)
    if f:
        params["filters"] = f
        where += f" AND {f_sql}"
    return ("histogram2", params,
            f"SELECT \"user\", {HIST_KEYS[t2]}, {SUM_SQL[s]} FROM inodes WHERE {where} "
            "GROUP BY 1, 2", "nested")


def _suggestions(r):
    return ("suggestions", {}, None, "suggestions")


def _top(r):
    return ("top", {"limit": "1"}, None, "top")


def _users(metric=None):
    def build(r):
        m = metric or r.choice(gen_tail.METRICS)
        return ("users", {"suggestion": m}, m, "users")
    return build


def _directories(r):
    # Suggestions.topDirectories at the endpoint's default depth 3
    return ("directories", {"limit": "12"},
            "SELECT array_to_string(string_split(path, '/')[1:4], '/') AS p, COUNT(*), "
            "SUM(fileSize * fileReplica) FROM inodes WHERE isFile "
            "AND len(string_split(path, '/')) - 1 > 3 GROUP BY 1 ORDER BY 2 DESC, 1 ASC "
            "LIMIT 12", "rows")


# ---- scripted API calls beside the dashboard
def _filter_size(r):
    v = r.choice(SIZES)
    return ("filter", {"set": "files", "filters": f"fileSize:gt:{v}", "sum": "count,fileSize"},
            f"SELECT COUNT(*), SUM(fileSize) FROM inodes WHERE isFile AND fileSize > {v}", "lines")


def _filter_user(r):
    u, rep = r.choice(USERS), r.choice([1, 3, 5])
    return ("filter", {"set": "files", "filters": f"user:eq:{u},fileReplica:gte:{rep}",
                       "sum": "count,diskspaceConsumed"},
            f"SELECT COUNT(*), SUM(fileSize * fileReplica) FROM inodes WHERE isFile "
            f"AND \"user\" = '{u}' AND fileReplica >= {rep}", "lines")


def _filter_age(r):
    d = r.choice([30, 180, 365, 540])
    return ("filter", {"set": "files", "filters": f"modTime:olderThanDays:{d}",
                       "sum": "count,numBlocks"},
            f"SELECT COUNT(*), SUM(numBlocks) FROM inodes WHERE isFile "
            f"AND modTime <= {NOW_MS - d * DAY_MS}", "lines")


def _filter_name(r):
    e = r.choice(EXTS)
    return ("filter", {"set": "files", "filters": f"name:endsWith:.{e}", "sum": "count,fileSize"},
            f"SELECT COUNT(*), SUM(fileSize) FROM inodes WHERE isFile AND name LIKE '%.{e}'",
            "lines")


def _hist_parent(r):
    d = r.choice([1, 2, 3, 4])
    return _chart({"set": "files", "type": "parentDir", "parentDirDepth": str(d),
                   "sum": "fileSize", "top": str(TOP)},
                  f"array_to_string(string_split(path, '/')[1:{d + 1}], '/')", "SUM(fileSize)",
                  f"isFile AND len(string_split(path, '/')) - 2 >= {d}")


def _divide(r):
    v = r.choice(SIZES)
    return ("divide", {"set1": "files", "filters1": f"fileSize:gt:{v}", "sum1": "count",
                       "set2": "files", "sum2": "count"},
            f"SELECT CAST(FLOOR(1000000.0 * (SELECT COUNT(*) FROM inodes WHERE isFile AND "
            f"fileSize > {v}) / (SELECT COUNT(*) FROM inodes WHERE isFile)) AS BIGINT)", "lines")


def _content_summary(r):
    p = r.choice(BATCH_DIRS + ["/data/raw/2024", "/data"])
    return ("contentSummary", {"path": p},
            "SELECT SUM(CASE WHEN isFile THEN 1 ELSE 0 END), "
            "SUM(CASE WHEN isFile THEN 0 ELSE 1 END), "
            "SUM(CASE WHEN isFile THEN fileSize ELSE 0 END), "
            "SUM(CASE WHEN isFile THEN fileSize * fileReplica ELSE 0 END) "
            f"FROM inodes WHERE path = '{p}' OR path LIKE '{p}/%'", "json")


def _sql(r):
    v = r.choice(SIZES)
    stmt = (f"SELECT `user` AS key, SUM(fileSize) AS value FROM files "
            f"WHERE fileSize > {v} GROUP BY `user`")
    return ("sql", {"sqlStatement": stmt},
            f"SELECT \"user\", SUM(fileSize) FROM inodes WHERE isFile AND fileSize > {v} "
            "GROUP BY 1", "csv")


def _dump(r):
    p, n = r.choice(BATCH_DIRS), r.choice([20, 50])
    return ("dump", {"path": p, "limit": str(n)},
            f"SELECT path FROM inodes WHERE path = '{p}' OR path LIKE '{p}/%' "
            f"ORDER BY path LIMIT {n}", "paths")


def _pathjoin(r):
    kind = r.randrange(3)
    if kind == 0:
        u = r.choice(USERS)
        return ("filter", {"set": "files", "filters": f"isUnderNsQuota:eq:true,user:eq:{u}",
                           "sum": "count"},
                f"SELECT COUNT(*) FROM inodes WHERE isFile AND \"user\" = '{u}' "
                "AND id IN (SELECT id FROM under_ns)", "lines")
    if kind == 1:
        return ("filter", {"set": "files", "filters": "isUnderDsQuota:eq:true",
                           "sum": "count,fileSize"},
                "SELECT COUNT(*), SUM(fileSize) FROM inodes WHERE isFile "
                "AND id IN (SELECT id FROM under_ds)", "lines")
    v = r.choice([500, 900, 1000, 20000])
    return ("filter", {"set": "dirs", "filters": f"dirSubTreeNumFiles:gt:{v}", "sum": "count"},
            "SELECT COUNT(*) FROM inodes d LEFT JOIN subtree s ON d.path = s.path "
            f"WHERE NOT d.isFile AND COALESCE(s.nfiles, 0) > {v}", "lines")


def _transform(r):
    p, rep = f"/data/raw/2024/b000{r.randrange(5)}", r.choice([1, 2])
    return ("filter", {"set": "files", "sum": "diskspaceConsumed,numReplicas",
                       "transformConditions": f"path:startsWith:{p}",
                       "transformOutputs": f"fileReplica:{rep}"},
            f"SELECT SUM(CASE WHEN path LIKE '{p}%' THEN fileSize * {rep} "
            "ELSE fileSize * fileReplica END), "
            f"SUM(CASE WHEN path LIKE '{p}%' THEN numBlocks * {rep} "
            "ELSE numBlocks * fileReplica END) FROM inodes WHERE isFile", "lines")


# One session's requests, the unit the sequence repeats (shuffled):
# (count, kind for the engine.* layer metrics, builder). The dashboard part
# is what src/main/resources/graft/webui/index.html sends for one page load
# — /suggestions, /top?limit=1, the default user/count histogram,
# /users?suggestion=numFiles twice (users view and overview table),
# /directories?limit=12; its constant lookups (/info, /credentials, /sets,
# /histograms, /sums) are left out — plus an assumed four explorer
# histograms, two two-level ones and one users-view pick. The scripted part
# is one call of each API use the dashboard lacks.
SESSION = [
    (1, "cache", _suggestions), (1, "cache", _top),
    (1, "histogram", _explore("user", "count", filtered=False)),
    (2, "cache", _users("numFiles")), (1, "directories", _directories),
    (4, "histogram", _explore()), (2, "histogram2", _explore2), (1, "cache", _users()),
    (1, "filter", _filter_size), (1, "filter", _filter_user), (1, "filter", _filter_age),
    (1, "filter", _filter_name), (1, "histogram", _hist_parent),
    (1, "filter", _divide), (1, "filter", _content_summary),
    (1, "sql", _sql), (1, "dump", _dump),
    (1, "pathjoin", _pathjoin), (1, "filter", _transform),
]


def generate(inputs, seed):
    """requests.tsv (key, endpoint, url query, kind), sequence.txt (the
    seeded order the closed-loop clients send them in) and oracle.json."""
    r = random.Random(seed)
    # shuffled sessions, so every stretch of a run sends the whole mix,
    # whatever the seed
    block = [t for t in SESSION for _ in range(t[0])]
    requests, order = {}, []
    while len(order) < SEQUENCE:
        r.shuffle(block)
        for _, kind, build in block:
            endpoint, params, sql, shape = build(r)
            query = urllib.parse.urlencode(params, quote_via=urllib.parse.quote)
            key = f"{endpoint}?{query}"
            requests.setdefault(key, (endpoint, query, kind, sql, shape, params))
            order.append(key)
    keys = {k: f"r{i}" for i, k in enumerate(requests)}
    os.makedirs(inputs, exist_ok=True)
    with open(os.path.join(inputs, "requests.tsv"), "w") as fh:
        for k, (endpoint, query, kind, *_) in requests.items():
            fh.write(f"{keys[k]}\t{endpoint}\t{query}\t{kind}\n")
    with open(os.path.join(inputs, "sequence.txt"), "w") as fh:
        fh.write("\n".join(keys[k] for k in order) + "\n")
    with open(os.path.join(inputs, "oracle.json"), "w") as fh:
        json.dump({keys[k]: {"oracle": v[3], "shape": v[4], "params": v[5]}
                   for k, v in requests.items()}, fh)


# ---- oracle
def _cell(v):
    return "" if v is None else str(v)


def _parse(body, shape):
    """A REST answer as a comparable value."""
    if shape == "lines":
        return body.strip("\n").split("\n")
    if shape == "json":
        return [_cell(v) for v in json.loads(body).values()]
    if shape == "paths":
        return [line for line in body.split("\n") if line]
    if shape == "csv":
        return sorted(body.split("\n")[1:])  # after its header
    doc = json.loads(body)
    if shape == "chart":
        return [doc["title"], doc["yAxisLabel"],
                [[_cell(k), _cell(v)] for k, v in zip(doc["labels"], doc["datasets"][0]["data"])]]
    if shape == "nested":
        return sorted([k1, k2, _cell(v)] for k1, inner in doc.items() for k2, v in inner.items())
    if shape == "rows":
        return [[_cell(v) for v in row.values()] for row in doc]
    return doc  # suggestions, top, users: census maps


def _expected(rows, shape, params):
    if shape in ("lines", "json"):
        return [_cell(v) for v in rows[0]]
    if shape == "paths":
        return [row[0] for row in rows]
    if shape == "chart":
        return [f"{params['type']} | {params['sum']} | {params['set']}", params["sum"],
                [[_cell(k), _cell(v)] for k, v in rows]]
    if shape == "nested":
        return sorted([_cell(v) for v in row] for row in rows)
    if shape == "rows":
        return [[_cell(v) for v in row] for row in rows]
    return sorted(",".join(_cell(v) for v in row) for row in rows)


def _census(flat):
    """The file census of the served image, whole and per user, from the
    ground truth (the same per-file contributions `gen_tail` replays)."""
    total, per_user, dirs = [0] * len(gen_tail.METRICS), {}, 0
    for r in csv.DictReader(open(flat)):
        if r["is_file"] != "true":
            dirs += 1
            continue
        c = gen_tail.contribution(dict(
            size=int(r["file_size"]), blocks=int(r["num_blocks"]),
            repl=int(r["replication"]), mtime=int(r["mtime_ms"]), atime=int(r["atime_ms"])))
        u = per_user.setdefault(r["usr"], [0] * len(c))
        for i, v in enumerate(c):
            total[i] += int(v)
            u[i] += int(v)
    named = lambda xs: dict(zip(gen_tail.METRICS, xs))
    return named(total), {u: named(xs) for u, xs in per_user.items()}, dirs


def _census_wrong(shape, doc, arg, census):
    """What differs between a census-served answer and the replay."""
    total, per_user, dirs = census
    if shape == "suggestions":
        want = dict(total, numDirs=dirs)
        bad = [m for m in want if doc.get(m) != want[m]]
        return f"{[(m, doc.get(m), want[m]) for m in bad[:4]]}" if bad else None
    if shape == "users":
        want = {u: m[arg] for u, m in per_user.items()}
        return None if doc == want else f"got {doc} want {want}"
    # top?limit=1: per metric the user with the largest value; ties go to
    # the last user in name order
    want = {m: dict([max((v[m], u) for u, v in per_user.items())[::-1]])
            for m in gen_tail.METRICS}
    return None if doc == want else f"got {str(doc)[:300]} want {str(want)[:300]}"


def check(inputs, flat, answers):
    """Check each distinct REST answer; returns {key: what differs}."""
    oracle = json.load(open(os.path.join(inputs, "oracle.json")))
    census = _census(flat)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # the image's ground truth in the engine's columns (FsImageXmlSource:
    # EC files carry replication 0, a missing atime falls back to mtime)
    con.execute(f"""CREATE TABLE inodes AS SELECT id, path,
        regexp_extract(path, '[^/]*$') AS name, is_file AS isFile, usr AS "user",
        file_size AS fileSize, num_blocks AS numBlocks, replication AS fileReplica,
        storage_policy AS storagePolicyId, mtime_ms AS modTime, atime_ms AS accessTime,
        ns_quota AS nsQuota, ds_quota AS dsQuota
        FROM read_csv('{flat}', header = true)""")
    # proper-ancestor walks, as the engine's PathStructure.withAncestors
    con.execute("""CREATE TABLE anc AS SELECT id, isFile,
        array_to_string(parts[1:i], '/') AS ancestor FROM (
          SELECT id, isFile, string_split(path, '/') AS parts FROM inodes),
        UNNEST(generate_series(2, len(parts) - 1)) AS t(i) WHERE len(parts) > 2""")
    for kind, quota in (("ns", "nsQuota"), ("ds", "dsQuota")):
        con.execute(f"""CREATE TABLE under_{kind} AS SELECT DISTINCT a.id FROM anc a
            JOIN inodes q ON NOT q.isFile AND q.{quota} >= 0 AND a.ancestor = q.path""")
    con.execute("""CREATE TABLE subtree AS SELECT ancestor AS path, COUNT(*) AS nfiles
        FROM anc WHERE isFile GROUP BY 1""")
    wrong = {}
    for key, body in answers.items():
        spec = oracle[key]
        shape = spec["shape"]
        try:
            got = _parse(body, shape)
        except (ValueError, KeyError, IndexError, TypeError) as e:
            wrong[key] = f"unparsable ({e}): {body[:200]}"
            continue
        if shape in ("suggestions", "top", "users"):
            msg = _census_wrong(shape, got, spec["oracle"], census)
        else:
            want = _expected(con.execute(spec["oracle"]).fetchall(), shape, spec["params"])
            msg = None if got == want else f"got {str(got)[:300]} want {str(want)[:300]}"
        if msg:
            wrong[key] = msg
    return wrong
