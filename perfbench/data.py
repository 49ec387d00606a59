"""Seeded benchmark inputs and their independently computed expected outputs.

Inputs are drawn with NumPy from the run's ``--seed`` and written as
parquet.  Expected outputs are computed from that parquet with DuckDB (and,
for the JSON rules, plain Python over DuckDB-read rows) — never with the
engine under test.  Both are cached per (workload, seed) under the
benchmark's work directory, so generation runs once per seed and never
inside a measured run.

Every workload's expectation is expressed as the same small vocabulary:

* ``verdicts``  — {partition: [n_rows, n_fail, {constraint_id: n}]} with
  zero counts dropped;
* ``checksums`` — {constraint_id: [n_violation_rows, crc_sum]} where
  ``crc_sum`` is the sum of CRC-32 over ``doc_id + SEP + observed``; the
  benchmark computes the same sum in Spark with ``crc32`` so the check
  reads every violation column without collecting the rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from collections import defaultdict

import numpy as np

SEP = "\x1f"

# sequences table (FIXTURES.md §1): vocabulary, lengths, dimension size
VOCAB = 32000
MAX_LEN = 512
DRIFT_SHIFT = 256
N_SOURCES = 20
# planted-violation rates (fractions of rows), FIXTURES.md §1
HOT_KEY = 0.05  # one hot duplicate doc_id
PAIR_DUP = 0.01  # duplicate of a neighbour's id
BAD_SOURCE = 0.008  # source outside sources_dim
SHAPE = 0.006  # n_tok != size(tokens)
OOR_TOKEN = 0.005  # one token >= VOCAB appended
EMPTY = 0.004  # empty tokens array

# Input sizes per input kind, chosen so a run of ten seconds holds several
# operations on a 4-core host (see perfbench/README.md).
SIZES = {
    "seq_flagship": {"rows": 50_000, "files": 4, "parts": 8},
    "json_docs": {"rows": 8_000, "files": 4, "parts": 4},
    "ckpt": {"rows": 6_000, "parts": 4},
    "stream": {"rows_per_file": 3_000, "files": 3},
}
# the inputs each workload reads, one per part
INPUTS = {"batch": ("seq_flagship", "json_docs"),
          "incremental": ("ckpt", "stream")}
# event time of the first stream file; hour-aligned, so no 5-minute window
# spans two files
STREAM_T0 = 1_699_999_200
STREAM_FILE_SPAN = 3600  # event-time seconds covered by one stream file


# ---------------------------------------------------------------------------
# generation
# ---------------------------------------------------------------------------

def _sequences(rng: np.random.Generator, n: int, parts: int, id0: int = 0):
    """The sequences table with FIXTURES.md §1 plants, as a pyarrow Table."""
    import pyarrow as pa

    ids = np.arange(id0, id0 + n)
    part = rng.integers(0, parts, n)
    length = rng.integers(1, MAX_LEN, n)
    drifted = part == parts - 1  # one drifted slice
    length = np.where(drifted, np.minimum(length + DRIFT_SHIFT, MAX_LEN),
                      length)
    u = rng.random((6, n))
    empty = u[0] < EMPTY
    oor = (u[1] < OOR_TOKEN) & ~empty
    length = np.where(empty, 0, length + oor)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(length, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    values[offsets[1:][oor] - 1] = VOCAB + 7
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values),
        type=pa.list_(pa.field("element", pa.int32(), nullable=False)))

    own = np.char.mod("doc%012d", ids)
    pair = np.char.mod("doc%012d", np.maximum(ids - ids % 2 - 2, 0))
    doc_id = np.where(u[2] < HOT_KEY, "doc_hot",
                      np.where(u[3] < PAIR_DUP, pair, own))
    src = np.char.mod("src%d", rng.integers(0, N_SOURCES, n))
    bad = np.char.mod("unknown_src_%d", rng.integers(0, 3, n))
    source = np.where(u[4] < BAD_SOURCE, bad, src)
    n_tok = length + (u[5] < SHAPE)
    return pa.table({
        "doc_id": pa.array(doc_id.tolist(), pa.string()),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array(source.tolist(), pa.string()),
        "part": pa.array(part.astype(np.int32)),
    })


def _json_docs(rng: np.random.Generator, n: int, parts: int):
    """Documents with two JSON string columns and one map column.

    ``meta`` qualifies for the engine's native from_json path, ``payload``
    (a oneOf of closed objects) only for the interpreter UDF, and ``tags``
    carries ``unevaluatedProperties``, which the typed compiler refuses."""
    import pyarrow as pa

    langs = ["en", "de", "fr", "es"]
    u = rng.random((3, n))
    pick = rng.integers(0, 6, (3, n))
    ints = rng.integers(0, 1000, (3, n))
    meta, payload, tags = [], [], []
    for i in range(n):
        m = {"score": round(float(ints[0, i]) / 10.0, 1),
             "lang": langs[ints[1, i] % 4], "n": int(ints[2, i])}
        if u[0, i] < 0.03:  # one planted defect of six kinds
            k = pick[0, i]
            if k == 0:
                m["score"] = 150.5
            elif k == 1:
                m["lang"] = "xx"
            elif k == 2:
                m["n"] = -3
            elif k == 3:
                del m["n"]
            elif k == 4:
                m["lang"] = 5
        s = json.dumps(m, separators=(",", ":"))
        if u[0, i] < 0.03 and pick[0, i] == 5:
            s = s[:-3]  # truncated, not JSON
        meta.append(s)

        if ints[0, i] % 2:
            p = {"kind": "a", "x": int(ints[1, i])}
        else:
            p = {"kind": "b", "y": f"v{ints[2, i]}"}
        if u[1, i] < 0.03:
            k = pick[1, i] % 3
            if k == 0:
                p["extra"] = True
            elif k == 1:
                p["kind"] = "c"
            else:
                p = {"kind": "a", "x": str(ints[1, i])}
        payload.append(json.dumps(p, separators=(",", ":")))

        t = {"p": int(ints[2, i])}
        if ints[1, i] % 3 == 0:
            t["q"] = int(ints[0, i])
        if u[2, i] < 0.03:
            k = pick[2, i] % 3
            if k == 0:
                t = {"q": 1}
            elif k == 1:
                t["p"] = -int(ints[2, i]) - 1
            else:
                t["z"] = 9
        tags.append(list(t.items()))
    return pa.table({
        "doc_id": pa.array(np.char.mod("doc%08d", np.arange(n)).tolist(),
                           pa.string()),
        "part": pa.array(rng.integers(0, parts, n).astype(np.int32)),
        "meta": pa.array(meta, pa.string()),
        "payload": pa.array(payload, pa.string()),
        "tags": pa.array(tags, pa.map_(pa.string(), pa.int32())),
    })


def _write_files(table, out: str, files: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# expected outputs (DuckDB over the written parquet)
# ---------------------------------------------------------------------------

# (constraint_id, failure condition, observed) for the sequences spec's row
# constraints, in DuckDB SQL.  Keyword constraints that can never fail on
# these column types (``*.type``) have no row here: they count zero.
_SEQ_ROW_RULES = [
    ("doc_id.minLength", "length(doc_id) < 1", "doc_id"),
    ("doc_id.pattern", "NOT regexp_matches(doc_id, '^doc')", "doc_id"),
    ("tokens.items",
     "len(tokens) > 0 AND (list_min(tokens) < 0 OR list_max(tokens) >= "
     f"{VOCAB})", "to_json(tokens[1:32])"),
    ("tokens.minItems", "len(tokens) < 1", "to_json(tokens[1:32])"),
    ("n_tok.minimum", "n_tok < 1", "CAST(n_tok AS VARCHAR)"),
    ("n_tok.maximum", f"n_tok > {MAX_LEN + 2}", "CAST(n_tok AS VARCHAR)"),
    ("source.pattern", "NOT regexp_matches(source, '^src[0-9]+$')",
     "source"),
    ("shape.n_tok", "n_tok <> len(tokens)", "CAST(n_tok AS VARCHAR)"),
]


def crc(doc_id: str, observed: str | None) -> int:
    return zlib.crc32(f"{doc_id}{SEP}{observed or ''}".encode())


def _fold(rows):
    """(key, doc_id, cid, observed) rows → (per-key checksums, per-key
    per-cid counts)."""
    sums: dict = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for key, doc_id, cid, obs in rows:
        acc = sums[key][cid]
        acc[0] += 1
        acc[1] += crc(doc_id, obs)
    return {k: dict(v) for k, v in sums.items()}


def _seq_row_violations(con, glob: str, key: str):
    """Row-constraint violation rows ``(key, doc_id, cid, observed)`` plus
    per-key (n_rows, n_fail) for the sequences spec."""
    union = " UNION ALL ".join(
        f"SELECT {key} AS k, doc_id, '{cid}' AS cid, "
        f"CAST({obs} AS VARCHAR) AS observed "
        f"FROM t WHERE {cond}"
        for cid, cond, obs in _SEQ_ROW_RULES)
    any_fail = " OR ".join(f"({c})" for _, c, _ in _SEQ_ROW_RULES)
    con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM "
                f"read_parquet('{glob}', hive_partitioning = true, "
                "filename = true)")
    viol = con.execute(union).fetchall()
    counts = con.execute(
        f"SELECT {key}, count(*), count(*) FILTER (WHERE {any_fail}) "
        "FROM t GROUP BY 1").fetchall()
    return viol, {k: (n, f) for k, n, f in counts}


def _verdicts(counts: dict, viol_rows) -> dict:
    per = defaultdict(lambda: defaultdict(int))
    for key, _doc, cid, _obs in viol_rows:
        per[key][cid] += 1
    return {str(k): [n, f, dict(per.get(k, {}))]
            for k, (n, f) in counts.items()}


def _seq_table_violations(con):
    """unique:doc_id and fk:source violation rows over view ``t``."""
    uniq = con.execute(
        "SELECT 'all', doc_id, 'unique:doc_id', 'count=' || count(*) "
        "FROM t GROUP BY doc_id HAVING count(*) > 1").fetchall()
    dim = ", ".join(f"'src{i}'" for i in range(N_SOURCES))
    fk = con.execute(
        f"SELECT 'all', doc_id, 'fk:source', source FROM t "
        f"WHERE source NOT IN ({dim})").fetchall()
    return uniq + fk


def _expect_flagship(con, root: str) -> dict:
    viol, counts = _seq_row_violations(con, f"{root}/*.parquet", "part")
    table = _seq_table_violations(con)
    allrows = [("all", d, c, o) for _k, d, c, o in viol] + table
    return {"verdicts": _verdicts(counts, viol),
            "checksums": _fold(allrows)["all"],
            "rows": sum(n for n, _ in counts.values())}


def _expect_ckpt(con, root: str) -> dict:
    viol, counts = _seq_row_violations(
        con, f"{root}/*/*.parquet", "part")
    return {"verdicts": _verdicts(counts, viol),
            "batch_checksums": {str(k): v for k, v in _fold(viol).items()},
            "global_checksums": _fold(_seq_table_violations(con))["all"],
            "rows": sum(n for n, _ in counts.values())}


def _expect_stream(con, root: str, files: int) -> dict:
    viol, counts = _seq_row_violations(
        con, f"{root}/*.parquet", "CAST(filename AS VARCHAR)")
    # one window of event time belongs to exactly one file
    per_file = {os.path.basename(k): [n, 0] for k, (n, _f) in counts.items()}
    for k, *_ in viol:
        per_file[os.path.basename(k)][1] += 1
    any_fail = " OR ".join(f"({c})" for _, c, _ in _SEQ_ROW_RULES)
    win = con.execute(
        "SELECT epoch(time_bucket(INTERVAL 5 MINUTE, ts))::BIGINT, count(*), "
        f"count(*) FILTER (WHERE NOT ({any_fail})), "
        f"count(*) FILTER (WHERE {any_fail}) FROM t GROUP BY 1").fetchall()
    return {"files": [per_file[f"part-{i:03d}.parquet"]
                      for i in range(files)],
            "windows": {str(w): [n, p, f] for w, n, p, f in win},
            "rows": sum(n for n, _ in per_file.values())}


def _json_rules(meta: str, payload: str, tags: list) -> list[str]:
    """Failing constraint ids of one json_docs row, by hand-written rules
    equivalent to the workload's spec (perfbench/workloads.py)."""
    out = []

    def is_int(v):
        return (isinstance(v, int) and not isinstance(v, bool)) or (
            isinstance(v, float) and v.is_integer())

    def is_num(v):
        return isinstance(v, (int, float)) and not isinstance(v, bool)

    try:
        m = json.loads(meta)
    except ValueError:
        m = None
    if not (isinstance(m, dict) and {"score", "lang", "n"} <= m.keys()
            and is_num(m["score"]) and 0 <= m["score"] <= 100
            and isinstance(m["lang"], str)
            and m["lang"] in ("en", "de", "fr", "es")
            and is_int(m["n"]) and m["n"] >= 0):
        out.append("meta.json")
    p = json.loads(payload)
    ok_a = (p.get("kind") == "a" and p.keys() == {"kind", "x"}
            and is_int(p["x"]))
    ok_b = (p.get("kind") == "b" and p.keys() == {"kind", "y"}
            and isinstance(p["y"], str))
    if ok_a == ok_b:  # oneOf: exactly one branch
        out.append("payload.json")
    t = dict(tags)
    props_ok = "p" in t and t["p"] >= 0
    if not props_ok:
        out.append("tags.properties")
    elif t.keys() - {"p", "q"}:
        # the interpreter fallback attributes a failure to the group
        # only when the schema without the group passes
        out.append("tags.unevaluatedProperties")
    return out


def _expect_json(con, root: str) -> dict:
    rows = con.execute(
        f"SELECT part, doc_id, meta, payload, map_entries(tags) "
        f"FROM read_parquet('{root}/*.parquet')").fetchall()
    viol, counts = [], defaultdict(lambda: [0, 0])
    for part, doc_id, meta, payload, tags in rows:
        entries = [(e["key"], e["value"]) for e in tags]
        failed = _json_rules(meta, payload, entries)
        c = counts[part]
        c[0] += 1
        c[1] += bool(failed)
        obs = {"meta.json": meta[:256], "payload.json": payload[:256],
               "tags.properties": json.dumps(dict(entries),
                                             separators=(",", ":"))[:256]}
        obs["tags.unevaluatedProperties"] = obs["tags.properties"]
        viol += [(part, doc_id, cid, obs[cid]) for cid in failed]
    allrows = [("all", d, c, o) for _k, d, c, o in viol]
    return {"verdicts": _verdicts(dict(counts), viol),
            "checksums": _fold(allrows).get("all", {}),
            "rows": len(rows)}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def _generate(kind: str, rng: np.random.Generator, inp: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    size = SIZES[kind]
    if kind == "seq_flagship":
        _write_files(_sequences(rng, size["rows"], size["parts"]), inp,
                     size["files"])
    elif kind == "json_docs":
        _write_files(_json_docs(rng, size["rows"], size["parts"]), inp,
                     size["files"])
    elif kind == "ckpt":
        # laid out as the checkpoint job assumes: one directory per value
        # of the batch column, so a batch's filter prunes to its files
        pq.write_to_dataset(_sequences(rng, size["rows"], size["parts"]),
                            inp, partition_cols=["part"])
    else:
        os.makedirs(inp, exist_ok=True)
        n = size["rows_per_file"]
        for i in range(size["files"]):
            t = _sequences(rng, n, 8, id0=i * n).drop_columns(["part"])
            off = np.sort(rng.integers(0, STREAM_FILE_SPAN, n))
            ts = (STREAM_T0 + i * STREAM_FILE_SPAN + off) * 1_000_000
            t = t.append_column("ts", pa.array(ts, pa.timestamp("us",
                                                                 "UTC")))
            pq.write_table(t, os.path.join(inp, f"part-{i:03d}.parquet"))


def _expect(kind: str, inp: str, tmp: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"SET temp_directory = '{tmp}'")
        if kind == "seq_flagship":
            return _expect_flagship(con, inp)
        if kind == "json_docs":
            return _expect_json(con, inp)
        if kind == "ckpt":
            return _expect_ckpt(con, inp)
        return _expect_stream(con, inp, SIZES["stream"]["files"])
    finally:
        con.close()


def prepare(workload: str, seed: int, work: str) -> tuple[dict, dict]:
    """Input directory and expected outputs of each input the workload
    reads, keyed by input kind; generated and cached on first use."""
    with open(__file__, "rb") as f:  # a changed generator invalidates
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    root = os.path.join(work, "data", f"{workload}-seed{seed}-{version}")
    done = os.path.join(root, "expected.json")
    inputs = {k: os.path.join(root, k) for k in INPUTS[workload]}
    if os.path.exists(done):
        with open(done) as f:
            return inputs, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    rng = np.random.default_rng(seed)
    exp = {}
    for kind, inp in inputs.items():
        _generate(kind, rng, inp)
        exp[kind] = _expect(kind, inp, os.path.join(root, "duckdb.tmp"))
    with open(done + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(done + ".tmp", done)
    return inputs, exp
