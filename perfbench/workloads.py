"""The benchmark workloads, each driving the engine's public API.

A workload opens its input and builds its spec in ``setup``; each ``call``
then runs one closed-loop unit of work and returns its operation
latencies, by kind of operation, with a ``verify`` closure that checks
every operation's output against the expected outputs from :mod:`data`.

Each workload runs two parts, one after the other, in every unit:

* ``batch``       — whole-table validation:

  - ``flagship``: gate (``verdict_counts``) + ``run`` on the sequences
    table; one operation = gate + full run;
  - ``json``: ``run`` on documents with JSON and map columns; one
    operation = one run.

* ``incremental`` — validation in small increments:

  - ``checkpoint``: ``ResumableValidation.run`` with batch size 1 over a
    table stored partitioned by the batch column; one operation = one
    batch (the closing global uniqueness/FK phase counts as one more);
  - ``stream.violations`` / ``stream.verdicts``: ``stream_violations`` and
    ``windowed_verdicts`` over a file-source stream, one file per trigger;
    one operation = one micro-batch.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from data import SEP, VOCAB, MAX_LEN, N_SOURCES, crc

# the flagship spec over the sequences table (FIXTURES.md §1)
SEQ_COLUMNS = {
    "doc_id": {"type": "string", "minLength": 1, "pattern": "^doc"},
    "tokens": {"type": "array",
               "items": {"type": "integer", "minimum": 0,
                         "exclusiveMaximum": VOCAB},
               "minItems": 1},
    "n_tok": {"type": "integer", "minimum": 1, "maximum": MAX_LEN + 2},
    "source": {"type": "string", "pattern": "^src[0-9]+$"},
}
SEQ_ROW_CHECKS = [{"id": "shape.n_tok", "expr": "n_tok = size(tokens)",
                   "observed": "n_tok"}]
SEQ_TABLE_CHECKS = [
    {"kind": "unique", "id": "unique:doc_id", "columns": ["doc_id"],
     "hash_compact": True},
    {"kind": "foreign_key", "id": "fk:source", "column": "source",
     "dim": "sources_dim"},
    {"kind": "stats", "columns": ["n_tok"]},
    {"kind": "drift", "id": "drift:n_tok", "column": "n_tok",
     "bucket_width": 32},
]

# json_docs: one native-eligible JSON column, one the interpreter alone
# accepts, one map column with a keyword group the typed compiler refuses
JSON_COLUMNS = {
    "meta": {"kind": "json", "schema": {
        "type": "object",
        "properties": {
            "score": {"type": "number", "minimum": 0, "maximum": 100},
            "lang": {"type": "string", "enum": ["en", "de", "fr", "es"]},
            "n": {"type": "integer", "minimum": 0},
        },
        "required": ["score", "lang", "n"],
    }},
    "payload": {"kind": "json", "schema": {"oneOf": [
        {"type": "object", "properties": {"kind": {"const": "a"},
                                          "x": {"type": "integer"}},
         "required": ["kind", "x"], "additionalProperties": False},
        {"type": "object", "properties": {"kind": {"const": "b"},
                                          "y": {"type": "string"}},
         "required": ["kind", "y"], "additionalProperties": False},
    ]}},
    "tags": {"type": "object",
             "properties": {"p": {"type": "integer", "minimum": 0},
                            "q": {"type": "integer"}},
             "required": ["p"], "unevaluatedProperties": False},
}


@dataclass
class Call:
    """One closed-loop unit of work."""

    wall_s: float  # timed wall time of the unit
    rows: int  # input rows validated
    ops: dict[str, list[float]]  # latency of each operation, by kind
    verify: Callable[[], list[bool]]  # per-operation correctness
    layer: dict = field(default_factory=dict)  # workload-specific traces


def _sources_dim(spark):
    """The allowed-sources dimension, built in the JVM (a DataFrame from a
    Python list would start Python workers to read it)."""
    from pyspark.sql import functions as F

    return spark.range(N_SOURCES).select(
        F.concat(F.lit("src"), F.col("id").cast("string")).alias("source"),
        F.lit(True).alias("active"))


def _checksums(violations):
    """Per-constraint (rows, sum of crc32(doc_id SEP observed)) — reads
    every violation column, like a sink would."""
    from pyspark.sql import functions as F

    crc = F.crc32(F.concat(F.col("doc_id"), F.lit(SEP),
                           F.coalesce(F.col("observed"), F.lit(""))))
    return violations.groupBy("constraint_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(crc).alias("crc"))


def _as_checksums(rows) -> dict:
    return {r["constraint_id"]: [r["n"], r["crc"]] for r in rows}


def _as_verdicts(rows) -> dict | None:
    """Verdict rows in the expected-output form, or None when a row is
    internally inconsistent."""
    out = {}
    for r in rows:
        if r["n_pass"] != r["n_rows"] - r["n_fail"] or \
                r["passed"] != (r["n_fail"] == 0):
            return None
        fails = {k: v for k, v in (r["fail_by_constraint"] or {}).items()
                 if v}
        out[str(r["partition"])] = [r["n_rows"], r["n_fail"], fails]
    return out


class Workload:
    name = ""

    def __init__(self, spark, inp: str, exp: dict, tracer, work: str):
        self.spark = spark
        self.inp = inp
        self.exp = exp
        self.tr = tracer
        self.work = work  # directory for this run's outputs

    def _suite(self, columns, row_checks=(), table_checks=(), draft=7,
               non_null=()):
        from go_jsonschema_spark.engine import ConstraintSuite
        from go_jsonschema_spark.spec import TableSpec

        with self.tr.span("spec"):
            ts = TableSpec(columns=dict(columns),
                           row_checks=list(row_checks),
                           table_checks=list(table_checks), draft=draft)
            return ConstraintSuite(ts, key="doc_id",
                                   non_null_elements=non_null)

    def _read(self):
        with self.tr.span("input.open"):
            return self.spark.read.parquet(self.inp)

    def setup(self) -> None:
        raise NotImplementedError

    def call(self) -> Call:
        raise NotImplementedError

    def layer_metrics(self, calls: list[Call]) -> dict:
        return {}


class SeqFlagship(Workload):
    """The ``flagship`` part of ``batch``."""

    def setup(self) -> None:
        self.suite = self._suite(SEQ_COLUMNS, SEQ_ROW_CHECKS,
                                 SEQ_TABLE_CHECKS, non_null=("tokens",))
        self.df = self._read()
        self.dims = {"sources_dim": _sources_dim(self.spark)}
        self.suite.compile(self.df)

    def call(self) -> Call:
        tr, suite, df = self.tr, self.suite, self.df
        t0 = time.perf_counter()
        tr.group("gate")
        vc = suite.verdict_counts(df, partition_col="part")
        with tr.span("exec.gate"):
            gate = vc.collect()
        tr.group("build")
        res = suite.run(df, partition_col="part", dims=self.dims,
                        persist_violations=True)
        tr.group("violations")
        with tr.span("exec.violations"):
            sums = _checksums(res.violations).collect()
        tr.group("verdicts")
        with tr.span("exec.verdicts"):
            verdicts = res.verdicts.collect()
        res.row_violations.unpersist()
        dt = time.perf_counter() - t0
        exp = self.exp

        def verify():
            return [_as_verdicts(gate) == exp["verdicts"]
                    and _as_verdicts(verdicts) == exp["verdicts"]
                    and _as_checksums(sums) == exp["checksums"]]

        return Call(dt, exp["rows"], {"flagship": [dt]}, verify)


class JsonDocs(Workload):
    """The ``json`` part of ``batch``."""

    def setup(self) -> None:
        self.suite = self._suite(JSON_COLUMNS, draft=2020)
        self.df = self._read()
        self.suite.compile(self.df)
        self.udf_nodes = None

    def call(self) -> Call:
        tr, suite, df = self.tr, self.suite, self.df
        t0 = time.perf_counter()
        tr.group("json.build")
        res = suite.run(df, partition_col="part")
        tr.group("json.violations")
        agg = _checksums(res.violations)
        with tr.span("exec.json.violations"):
            sums = agg.collect()
        tr.group("json.verdicts")
        with tr.span("exec.json.verdicts"):
            verdicts = res.verdicts.collect()
        dt = time.perf_counter() - t0
        if self.tr.enabled and self.udf_nodes is None:
            # Python-evaluation nodes in the two executed (final) plans
            self.udf_nodes = 0
            for d in (agg, res.verdicts):
                plan = d._jdf.queryExecution().executedPlan()
                if plan.nodeName() == "AdaptiveSparkPlan":
                    plan = plan.executedPlan()
                text = plan.toString()
                self.udf_nodes += (text.count("ArrowEvalPython")
                                   + text.count("BatchEvalPython"))
        exp = self.exp

        def verify():
            return [_as_verdicts(verdicts) == exp["verdicts"]
                    and _as_checksums(sums) == exp["checksums"]]

        return Call(dt, exp["rows"], {"json": [dt]}, verify)

    def layer_metrics(self, calls):
        return {"json.udf_nodes": self.udf_nodes}


class _TracingStore:
    """CheckpointStore wrapper: marks batch boundaries (a batch ends when
    its manifest is committed) and tags the next batch's Spark jobs."""

    def __init__(self, store, tracer, n_batches: int):
        self.store = store
        self.tr = tracer
        self.n = n_batches
        self.marks: list[dict] = []
        self.t_start = None

    def completed(self, run_id):
        out = self.store.completed(run_id)
        self.t_start = time.perf_counter()
        self.py4j_start = self.tr.py4j
        self.tr.group("batch")
        return out

    def mark_complete(self, run_id, batch_key, partitions, metrics, output):
        t0 = time.perf_counter()
        with self.tr.span("checkpoint.manifest", batch=batch_key):
            self.store.mark_complete(run_id, batch_key, partitions, metrics,
                                     output)
        t1 = time.perf_counter()
        self.marks.append({"key": batch_key, "partitions": partitions,
                           "metrics": metrics, "output": output,
                           "end": t1, "manifest_s": t1 - t0,
                           "py4j": self.tr.py4j})
        if batch_key != "global":
            self.tr.op += 1
            self.tr.group("batch" if len(self.marks) < self.n
                          else "global")


class CkptBatches(Workload):
    """The checkpoint part of ``incremental``."""

    def setup(self) -> None:
        self.suite = self._suite(SEQ_COLUMNS, SEQ_ROW_CHECKS,
                                 SEQ_TABLE_CHECKS, non_null=("tokens",))
        self.df = self._read()
        self.dims = {"sources_dim": _sources_dim(self.spark)}
        self.n_batches = len(self.exp["verdicts"])
        # the batches compile the row-only suite; warm its plan
        self.suite.row_only().compile(self.df)
        self.k = 0

    def call(self) -> Call:
        from go_jsonschema_spark.checkpoint import (
            CheckpointStore, ResumableValidation)

        self.k += 1
        root = os.path.join(self.work, "ckpt", f"call{self.k}")
        shutil.rmtree(root, ignore_errors=True)
        store = _TracingStore(CheckpointStore(os.path.join(root, "state")),
                              self.tr, self.n_batches)
        rv = ResumableValidation(self.suite, store, partition_col="part",
                                 batch_size=1)
        self.tr.group("list")
        t0 = time.perf_counter()
        with self.tr.span("checkpoint.run"):
            report = rv.run(self.df, "bench", os.path.join(root, "out"),
                            dims=self.dims)
        dt = time.perf_counter() - t0
        bounds = [store.t_start] + [m["end"] for m in store.marks]
        lat = [b - a for a, b in zip(bounds, bounds[1:])]
        batches = [m for m in store.marks if m["key"] != "global"]
        glob = [m for m in store.marks if m["key"] == "global"]
        exp = self.exp

        def verify():
            import duckdb

            def sums(path):
                out: dict = {}
                for cid, doc_id, obs in duckdb.sql(
                        "SELECT constraint_id, doc_id, observed FROM "
                        f"read_parquet('{path}/*.parquet')").fetchall():
                    acc = out.setdefault(cid, [0, 0])
                    acc[0] += 1
                    acc[1] += crc(doc_id, obs)
                return out

            ok = []
            for m in batches:
                p = str(m["partitions"][0])
                want = exp["verdicts"][p]
                got = m["metrics"][p]
                ok.append(
                    len(m["partitions"]) == 1
                    and [got["n_rows"], got["n_fail"]] == want[:2]
                    and got["n_pass"] == got["n_rows"] - got["n_fail"]
                    and got["passed"] == (got["n_fail"] == 0)
                    and sums(m["output"]) == exp["batch_checksums"]
                    .get(p, {}))
            ok.append(len(glob) == 1 and report.batches_run ==
                      self.n_batches + 1 and sums(glob[0]["output"])
                      == exp["global_checksums"])
            shutil.rmtree(root, ignore_errors=True)
            return ok

        py4j = [store.py4j_start] + [m["py4j"] for m in store.marks]
        return Call(dt, exp["rows"], {"checkpoint": lat}, verify, {
            "manifest_s": [m["manifest_s"] for m in store.marks],
            "batch_s": lat[:-1], "global_s": lat[-1],
            "batch_py4j": [b - a for a, b in zip(py4j, py4j[1:])][:-1]})

    def layer_metrics(self, calls):
        c = [x for x in calls if x.layer]
        if not c:
            return {}
        return {
            "checkpoint.batch_s_p50": statistics.median(
                b for x in c for b in x.layer["batch_s"]),
            "checkpoint.manifest_s": statistics.median(
                m for x in c for m in x.layer["manifest_s"]),
            "checkpoint.global_s": statistics.median(
                x.layer["global_s"] for x in c),
            "checkpoint.py4j_per_batch": statistics.mean(
                n for x in c for n in x.layer["batch_py4j"]),
        }


class StreamMicrobatch(Workload):
    """The streaming part of ``incremental``."""

    def setup(self) -> None:
        self.suite = self._suite(SEQ_COLUMNS, SEQ_ROW_CHECKS,
                                 non_null=("tokens",))
        static = self._read()
        self.schema = static.schema
        self.suite.compile(static)
        self.k = 0

    def _query(self, name: str, df, fmt: str, mode: str):
        from pyspark.sql.utils import StreamingQueryException

        self.k += 1
        w = (df.writeStream.format(fmt).outputMode(mode)
             .option("checkpointLocation",
                     os.path.join(self.work, "stream", f"q{self.k}"))
             .trigger(availableNow=True))
        if fmt == "memory":
            w = w.queryName(f"pb_{name}_{self.k}")
        t0 = time.perf_counter()
        q = w.start()
        self.tr.stream_runs[str(q.runId)] = (f"stream.{name}", self.tr.op)
        try:
            q.awaitTermination()
        except StreamingQueryException:
            return time.perf_counter() - t0, None
        return time.perf_counter() - t0, q.recentProgress

    def call(self) -> Call:
        from go_jsonschema_spark.streaming.validate import (
            stream_violations, windowed_verdicts)

        def source():
            return (self.spark.readStream.schema(self.schema)
                    .option("maxFilesPerTrigger", 1).parquet(self.inp))

        with self.tr.span("streaming.validate"):
            viol = stream_violations(self.suite, source())
        wall_v, prog_v = self._query("violations", viol, "noop", "append")
        with self.tr.span("streaming.validate"):
            verd = windowed_verdicts(self.suite, source(), ts_col="ts",
                                     window="5 minutes",
                                     watermark="10 minutes")
        wall_w, prog_w = self._query("verdicts", verd, "memory", "update")
        data_v = [p for p in prog_v or [] if p.numInputRows > 0]
        data_w = [p for p in prog_w or [] if p.numInputRows > 0]
        lat = {f"stream.{k}": [p.durationMs["triggerExecution"] / 1e3
                               for p in d]
               for k, d in (("violations", data_v), ("verdicts", data_w))}
        rows = sum(p.numInputRows for p in data_v + data_w)
        table = f"pb_verdicts_{self.k}"
        exp = self.exp

        def verify():
            files = sorted(tuple(f) for f in exp["files"])
            got_v = sorted((p.numInputRows, p.sink.numOutputRows)
                           for p in data_v)
            got_w = sorted(p.numInputRows for p in data_w)
            ok_v = prog_v is not None and got_v == files
            ok_w = False
            if prog_w is not None:
                out = self.spark.sql(
                    "SELECT unix_timestamp(window.start) w, n_rows, "
                    f"n_pass, n_fail FROM {table}").collect()
                windows = {str(r["w"]): [r["n_rows"], r["n_pass"],
                                         r["n_fail"]] for r in out}
                ok_w = (len(out) == len(windows)
                        and windows == exp["windows"]
                        and got_w == [n for n, _ in files])
                self.spark.catalog.dropTempView(table)
            n_files = len(files)
            return ([ok_v] * max(len(data_v), n_files)
                    + [ok_w] * max(len(data_w), n_files))

        return Call(wall_v + wall_w, rows, lat, verify, {
            "progress": [p.json for p in (prog_v or []) + (prog_w or [])],
            "query_s": [wall_v, wall_w]})

    def layer_metrics(self, calls):
        import json

        prog = [json.loads(p) for x in calls for p in x.layer.get(
            "progress", [])]
        data = [p for p in prog if p["numInputRows"] > 0]
        if not data:
            return {}

        def med(key):
            return statistics.median(
                p["durationMs"].get(key, 0) for p in data) / 1e3

        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        trig = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1e3
        queries = [q for x in calls for q in x.layer["query_s"]]
        return {
            "stream.startup_s": (sum(queries) - trig) / len(queries),
            "stream.batch_s_p50": med("triggerExecution"),
            "stream.addBatch_s": med("addBatch"),
            "stream.queryPlanning_s": med("queryPlanning"),
            "stream.walCommit_s": med("walCommit"),
            "stream.commitOffsets_s": med("commitOffsets"),
            "stream.latestOffset_s": med("latestOffset"),
            "stream.state_rows": max(s["numRowsTotal"] for s in state)
            if state else 0,
            "stream.state_commit_s": statistics.median(
                s["commitTimeMs"] for s in state) / 1e3 if state else 0.0,
        }


class Composite(Workload):
    """Runs its parts one after the other in every unit; each part's
    operations keep their own job-group op number."""

    parts: tuple = ()

    def __init__(self, spark, inp: dict, exp: dict, tracer, work: str):
        super().__init__(spark, inp, exp, tracer, work)
        self.members = [cls(spark, inp[k], exp[k], tracer, work)
                        for k, cls in self.parts]

    def setup(self) -> None:
        for m in self.members:
            m.setup()

    def call(self) -> Call:
        calls = []
        for i, m in enumerate(self.members):
            if i:
                self.tr.op += 1
            calls.append(m.call())
        ops: dict[str, list[float]] = {}
        layer: dict = {}
        for c in calls:
            ops.update(c.ops)
            layer.update(c.layer)
        return Call(sum(c.wall_s for c in calls),
                    sum(c.rows for c in calls), ops,
                    lambda: [ok for c in calls for ok in c.verify()], layer)

    def layer_metrics(self, calls):
        out: dict = {}
        for m in self.members:
            out.update(m.layer_metrics(calls))
        return out


class Batch(Composite):
    name = "batch"
    parts = (("seq_flagship", SeqFlagship), ("json_docs", JsonDocs))


class Incremental(Composite):
    name = "incremental"
    parts = (("ckpt", CkptBatches), ("stream", StreamMicrobatch))


WORKLOADS = {w.name: w for w in (Batch, Incremental)}
