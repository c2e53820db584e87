"""Seeded inputs and oracle for the `nna_tail` workload.

The base namespace is a binary fsimage made by the repository's own
generators in scale mode (`tools/gen_fsimage_xml.py` writes the namespace
and its flat ground truth, `tools/gen_fsimage_bin.py` encodes the image);
it does not depend on the seed, so one checkout builds it once.

The seed drives the edit stream: OEV-XML segments of mostly ADD/CLOSE,
SET_REPLICATION and TIMES, a few DELETEs, and RENAME_OLD/MKDIR structural
ops. While writing them the generator replays every op sequentially on
its own copy of the namespace, as a namenode would, and records the
suggestions census (the file metrics) expected after each segment.
"""
import csv
import json
import os
import random
import subprocess
import sys

FILES = 50_000
SEGMENTS = 40
# per segment: one MKDIR, PAIRS ADD+CLOSE pairs, SINGLES SET_REPLICATION and
# SINGLES TIMES ops, and CLUSTERS clusters of CLUSTER_OPS DELETE/RENAME_OLD
PAIRS, SINGLES, CLUSTERS, CLUSTER_OPS = 28, 28, 2, 3
NOW_MS = 1735689600000
DAY_MS = 86400000
KB, MB = 1024, 1024 * 1024

METRICS = ["numFiles", "emptyFiles", "tinyFiles", "smallFiles", "mediumFiles",
           "largeFiles", "emptyFiles24h", "tinyFiles24h", "smallFiles24h",
           "emptyFiles1yr", "tinyFiles1yr", "oldFiles1yr", "oldFiles2yr",
           "emptyFilesMem", "tinyFilesDs", "smallFilesDs", "oldFiles1yrDs",
           "totalBytes", "totalDiskspace", "totalFileMem", "totalBlocks"]


def base_image(cache, repo):
    """The cached base image (`base.bin`) and its flat ground truth."""
    flat, image = os.path.join(cache, "base_flat.csv"), os.path.join(cache, "base.bin")
    if not os.path.exists(image):
        os.makedirs(cache, exist_ok=True)
        prefix = os.path.join(cache, "base")
        tools = os.path.join(repo, "tools")
        subprocess.run([sys.executable, os.path.join(tools, "gen_fsimage_xml.py"),
                        str(FILES), prefix], check=True, stdout=subprocess.DEVNULL)
        os.remove(prefix + ".xml")
        subprocess.run([sys.executable, os.path.join(tools, "gen_fsimage_bin.py"),
                        flat, image + ".tmp"], check=True, stdout=subprocess.DEVNULL)
        os.replace(image + ".tmp", image)
    return flat, image


def contribution(f):
    """One file's share of each census file metric (`Suggestions` at the
    pinned epoch)."""
    fs, blocks, repl = f["size"], f["blocks"], f["repl"]
    old24h = f["mtime"] >= NOW_MS - DAY_MS
    acc1y = f["atime"] <= NOW_MS - 365 * DAY_MS
    acc2y = f["atime"] <= NOW_MS - 730 * DAY_MS
    empty, tiny = fs == 0, 0 < fs <= KB
    small, mem, ds = KB < fs <= MB, 150 + 150 * blocks, fs * repl
    return [1, empty, tiny, small, MB < fs <= 128 * MB, fs > 128 * MB,
            empty and old24h, tiny and old24h, small and old24h,
            empty and acc1y, tiny and acc1y, acc1y, acc2y,
            mem if empty else 0, ds if tiny else 0, ds if small else 0,
            ds if acc1y else 0, fs, ds, mem, blocks]


class Namespace:
    """The sequential replay: files by path, plus the dirs the edit stream
    itself creates (their files, for subtree renames and deletes)."""

    def __init__(self, flat):
        self.files, self.census = {}, [0] * len(METRICS)
        for r in csv.DictReader(open(flat)):
            if r["is_file"] == "true":
                self.put(r["path"], dict(
                    size=int(r["file_size"]), blocks=int(r["num_blocks"]),
                    repl=int(r["replication"]), mtime=int(r["mtime_ms"]),
                    atime=int(r["atime_ms"]), ec=r["is_ec"] == "true"))
        self.closed = [p for p in self.files]  # files ops may touch
        self.where = {p: i for i, p in enumerate(self.closed)}
        self.new_dirs = {}

    def _fold(self, f, sign):
        for i, v in enumerate(contribution(f)):
            self.census[i] += sign * int(v)

    def put(self, path, f):
        if path in self.files:
            self._fold(self.files[path], -1)
        self.files[path] = f
        self._fold(f, 1)

    def drop(self, path):
        self._fold(self.files.pop(path), -1)
        self.untrack(path)

    def track(self, path):
        self.where[path] = len(self.closed)
        self.closed.append(path)

    def untrack(self, path):
        i = self.where.pop(path, None)
        if i is not None:
            last = self.closed.pop()
            if last != path:
                self.closed[i] = last
                self.where[last] = i


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _record(txid, opcode, fields):
    """One OEV RECORD; a field is a (tag, value) pair or raw XML."""
    body = "".join(f if isinstance(f, str) else f"<{f[0]}>{f[1]}</{f[0]}>" for f in fields)
    return f"  <RECORD><OPCODE>{opcode}</OPCODE><DATA><TXID>{txid}</TXID>{body}</DATA></RECORD>\n"


def _perm(user):
    return (f"<USERNAME>{user}</USERNAME><GROUPNAME>eng</GROUPNAME><MODE>420</MODE>")


def generate(inputs, seed, cache, repo):
    """segments.tsv (file, op count), seg_*.xml and expected.json (the
    census after each segment). Returns the base image's flat ground truth
    and the image."""
    flat, image = base_image(cache, repo)
    ns = Namespace(flat)
    r = random.Random(seed)
    users = ["alice", "bob", "carol", "hdfs"]
    batch_dirs = sorted({p.rsplit("/", 1)[0] for p in ns.files if "/b" in p})
    txid, expected, segments = 1000, [], []
    os.makedirs(inputs, exist_ok=True)
    for seg in range(SEGMENTS):
        recs = []

        def emit(opcode, *fields):
            nonlocal txid
            txid += 1
            recs.append(_record(txid, opcode, fields))

        ts = NOW_MS - r.randrange(0, 400) * DAY_MS
        new_dir = f"/data/raw/2024/s{seed % 1000:03d}_{seg:03d}"
        emit("OP_MKDIR", ("LENGTH", 0), ("INODEID", 5_000_000 + seg),
             ("PATH", new_dir), ("TIMESTAMP", ts),
             ("PERMISSION_STATUS", _perm("hdfs")))
        ns.new_dirs[new_dir] = set()
        # fixed op counts per segment, in a seeded order; the structural ops
        # come in clusters, so the apply's bulk chunks between them stay few
        plan = (["add"] * PAIRS + ["replication"] * SINGLES + ["times"] * SINGLES +
                ["structural"] * CLUSTERS)
        r.shuffle(plan)
        for n, kind in enumerate(plan):
            if kind == "structural":
                _structural(r, ns, emit, seg, ts)
            elif kind == "add":
                # ADD + CLOSE of a new file (one timestamp for both records)
                d = new_dir if r.random() < 0.4 else r.choice(batch_dirs)
                path = f"{d}/e{seg:03d}_{n:03d}.{r.choice(['log', 'gz', 'parquet', 'csv'])}"
                t = ts + n * 1000
                repl, user = r.choice([1, 2, 3]), r.choice(users)
                blocks = [] if r.random() < 0.1 else [
                    r.choice([0, 512, 4096, 2 * MB, 96 * MB, 200 * MB]) + r.randrange(100)
                    for _ in range(r.randint(1, 3))]
                common = [("LENGTH", 0), ("PATH", _esc(path)), ("REPLICATION", repl),
                          ("MTIME", t), ("ATIME", t), ("BLOCKSIZE", 134217728)]
                emit("OP_ADD", common[0], ("INODEID", 6_000_000 + seg * 1000 + n),
                     *common[1:], ("OVERWRITE", "false"), ("PERMISSION_STATUS", _perm(user)))
                blk = "".join(f"<BLOCK><BLOCK_ID>{txid * 8 + j}</BLOCK_ID><NUM_BYTES>{b}"
                              f"</NUM_BYTES><GENSTAMP>1001</GENSTAMP></BLOCK>"
                              for j, b in enumerate(blocks))
                emit("OP_CLOSE", common[0], ("INODEID", 0), *common[1:], blk,
                     ("PERMISSION_STATUS", _perm(user)))
                ns.put(path, dict(size=sum(blocks), blocks=len(blocks), repl=repl,
                                  mtime=t, atime=t, ec=False))
                ns.track(path)
                if d == new_dir:
                    ns.new_dirs[new_dir].add(path)
            elif kind == "replication":
                # erasure-coded files carry no replication factor
                path = r.choice(ns.closed)
                while ns.files[path]["ec"]:
                    path = r.choice(ns.closed)
                repl = r.choice([1, 2, 3])
                emit("OP_SET_REPLICATION", ("PATH", _esc(path)), ("REPLICATION", repl))
                ns.put(path, dict(ns.files[path], repl=repl))
            else:
                path = r.choice(ns.closed)
                mtime = ts - r.randrange(0, 800) * DAY_MS
                atime = -1 if r.random() < 0.3 else mtime + r.randrange(0, 5) * DAY_MS
                emit("OP_TIMES", ("LENGTH", 0), ("PATH", _esc(path)), ("MTIME", mtime),
                     ("ATIME", atime))
                f = ns.files[path]
                ns.put(path, dict(f, mtime=mtime, atime=f["atime"] if atime < 0 else atime))
        name = f"seg_{seg:04d}.xml"
        with open(os.path.join(inputs, name), "w") as fh:
            fh.write('<?xml version="1.0" encoding="UTF-8"?>\n<EDITS>\n'
                     "  <EDITS_VERSION>-66</EDITS_VERSION>\n")
            fh.write("".join(recs))
            fh.write("</EDITS>\n")
        segments.append(f"{name}\t{len(recs)}")
        expected.append(dict(zip(METRICS, ns.census)))
    with open(os.path.join(inputs, "segments.tsv"), "w") as fh:
        fh.write("\n".join(segments) + "\n")
    with open(os.path.join(inputs, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    return flat, image


def _structural(r, ns, emit, seg, ts):
    """A cluster of DELETE / RENAME_OLD ops."""
    for written in range(CLUSTER_OPS):
        old_dirs = [d for d in ns.new_dirs if not d.endswith(f"_{seg:03d}")]
        choice = r.random()
        if choice < 0.15 and old_dirs:
            # a directory the stream made earlier: whole-subtree rename
            src = r.choice(old_dirs)
            dst = src + "_r"
            emit("OP_RENAME_OLD", ("LENGTH", 0), ("SRC", _esc(src)), ("DST", _esc(dst)),
                 ("TIMESTAMP", ts))
            moved = ns.new_dirs.pop(src)
            ns.new_dirs[dst] = set()
            for p in moved:
                q = dst + p[len(src):]
                ns.put(q, ns.files[p])
                ns.drop(p)
                ns.track(q)
                ns.new_dirs[dst].add(q)
        elif choice < 0.25 and old_dirs:
            src = r.choice(old_dirs)
            emit("OP_DELETE", ("LENGTH", 0), ("PATH", _esc(src)), ("TIMESTAMP", ts))
            for p in ns.new_dirs.pop(src):
                ns.drop(p)
        elif choice < 0.6:
            src = r.choice(ns.closed)
            dst = src.rsplit("/", 1)[0] + f"/mv{seg:03d}_{written}_" + src.rsplit("/", 1)[1]
            emit("OP_RENAME_OLD", ("LENGTH", 0), ("SRC", _esc(src)), ("DST", _esc(dst)),
                 ("TIMESTAMP", ts))
            ns.put(dst, ns.files[src])
            ns.drop(src)
            ns.track(dst)
            for files in ns.new_dirs.values():
                if src in files:
                    files.discard(src)
                    files.add(dst)
        else:
            src = r.choice(ns.closed)
            emit("OP_DELETE", ("LENGTH", 0), ("PATH", _esc(src)), ("TIMESTAMP", ts))
            ns.drop(src)
            for files in ns.new_dirs.values():
                files.discard(src)


def check(inputs, folded):
    """Compare each folded census with the replay's; returns mismatches."""
    expected = json.load(open(os.path.join(inputs, "expected.json")))
    wrong = []
    for i, got in sorted(folded.items()):
        want = expected[i]
        bad = [m for m in METRICS if got.get(m) != want[m]]
        if bad:
            wrong.append(f"segment {i}: {', '.join(f'{m} {got.get(m)} != {want[m]}' for m in bad[:4])}")
    return wrong
