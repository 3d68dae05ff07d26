"""Repository benchmark: end-to-end and per-layer numbers per workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Workloads (LAYERS.md says why each was chosen, and why BENCHMARK.json
lists only ``relational`` and ``offset_ledger``):

* ``relational`` — the 13 oracle-backed TPC-H/events keys of
  ``bench.HEADLINE``, each built and collected once per pass.
* ``llm_data`` — 12 LLM-data keys (text, dedup, similarity, graph, BPE).
* ``offset_ledger`` — the events table, permuted by the seed and sliced
  into same-size files, drained one file per trigger through
  ``read_event_stream`` -> ``foreachBatch(OffsetLedger.process)``; half
  the files, a restart on the same checkpoint, then the rest.

After an unmeasured warm-up (a whole pass, or a small drain with
restart), a run repeats its unit of work (a pass, or a drain with
restart) ``--seconds`` / ``UNIT_S`` times, at least once, and reports
medians.  A unit's cost is measured both as wall seconds and as the CPU
seconds of the process tree (Python driver, JVM, Python workers); only
the CPU seconds are gated, because on a shared host the wall time of the
same work drifts by a third between runs minutes apart.

The fixture is generated by ``perfbench/gen_data.py`` into
``.perfbench/`` at the checkout root on first use; all temporary files of
a run (Spark local dirs, staging, checkpoints, the event log) lives
there too and is removed at exit.  Expected answers come from the
DuckDB ``ORACLE_SQL`` of each key, computed outside any timed region
and cached next to the fixture.

``--trace 0`` measures with tracing off and prints the end-to-end
metrics.  ``--trace 1`` makes the same measurement, then one traced unit
with an uncompressed event log attached to the same warm session, and
prints the per-layer metrics; ``trace.overhead_s`` is the traced wall
minus the untraced one.
Human-readable lines (seed, host fingerprint, every metric with its
unit) precede the last stdout line, which is one JSON object.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import pickle
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_streaming_kafka_offset_spark"
WORK = os.path.join(ROOT, ".perfbench")

RELATIONAL = [
    "agg_hash",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "events_funnel",
    "scan_pruned",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank",
    "topk_per_group",
    "agg_grouping_sets",
    "fn_json",
]
LLM_DATA = [
    "text_tfidf",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk_exact",
    "docs_chrf",
    "docs_edit_distance",
    "bpe_train_iterative",
    "multimodal_dedup_phash",
    "graph_pagerank",
    "graph_kcore",
    "text_ngram_novelty",
    "corpus_admission_pipeline",
]
BATCH_KEYS = {"relational": RELATIONAL, "llm_data": LLM_DATA}
#: Nominal seconds of one unit of work (a pass, or a drain with restart)
#: on 4 cores; ``--seconds`` divided by it gives the number of units.
UNIT_S = {"relational": 15.0, "llm_data": 40.0, "offset_ledger": 25.0}
WORKLOADS = ("relational", "llm_data", "offset_ledger")
#: Keys with no DuckDB oracle: checked against the row count and canonical
#: hash recorded in expected_rows_only.json.
ROWS_ONLY = ("dedup_minhash", "bpe_train_iterative")
#: Unmeasured passes a batch workload makes before its units.
WARMUP_PASSES = 1
#: offset_ledger: events are sliced into this many same-size files, and
#: the stream restarts after half of them.
STREAM_FILES = 12
#: offset_ledger warm-up: a drain with restart, like a unit, over this many
#: files of WARMUP_EVENTS events (its own checkpoint and sink).
WARMUP_FILES = 4
WARMUP_EVENTS = 1000

STREAM_DURATIONS = {
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
}

#: Per-key layer metrics: every batch workload prints them for its keys,
#: and the JSON carries them for ``relational``, the batch workload that
#: BENCHMARK.json lists.
PER_KEY = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "collect_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
}

#: Gated end-to-end metrics.  The rest are printed but not gated: wall
#: times follow the speed the shared host gives the VM from one run to the
#: next, the JVM's heap grows further on a slower host, and a median over
#: a mix of short and long queries jumps between neighbouring queries.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
REPORTED_UNITS = {
    **END_TO_END,
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "query_p50_s": "s",
    "n_queries": "count",
    "batch_p50_s": "s",
    "batch_p75_s": "s",
    "n_batches": "count",
    "events_per_s": "1/s",
    "resume_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, reported by every workload (0 where the
    workload leaves the layer idle)."""
    units = {
        "session.import_s": "s",
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "operators.collect_s": "s",
        "functions.collect_s": "s",
    }
    for name in eventlog.COUNTERS:
        units[f"spark.{name}"] = (
            "count" if name in ("jobs", "stages", "tasks")
            else "ms" if name.endswith("_ms") else "bytes"
        )
    units["spark.slot_busy_ratio"] = "ratio"
    units["offsets.process_s"] = "s"
    units["offsets.jobs_per_batch"] = "count"
    for name in STREAM_DURATIONS:
        units[f"streaming.{name}"] = "ms"
    units["streaming.batches"] = "count"
    units["streaming.rows_per_batch"] = "count"
    units["streaming.replayed_batches"] = "count"
    units["trace.overhead_s"] = "s"
    for key in RELATIONAL:
        for name, unit in PER_KEY.items():
            units[f"{name}.{key}"] = unit
    return units


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def p75(xs: list[float]) -> float:
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def source_hash(*parts: str) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part.encode())
    return h.hexdigest()[:16]


# --------------------------------------------------------------------------
# Fixture and expected answers (outside every timed region)


def prepare_data() -> str:
    """Generate the sf0.1 fixture once per generator version."""
    with open(os.path.join(HERE, "gen_data.py"), encoding="utf-8") as fh:
        version = source_hash(fh.read())
    out = os.path.join(WORK, "data", f"sf0.1-{version}")
    if not os.path.isdir(out):
        import gen_data

        gen_data.write(out)
    return out


def expected_frames(engine, sf_dir: str, keys: list[str]) -> tuple[dict, str]:
    """DuckDB answers for the oracle-backed keys and their cache id,
    cached as pickles this benchmark wrote (keyed by fixture and SQL)."""
    import duckdb

    oracle_keys = [k for k in keys if k not in ROWS_ONLY]
    sql = {k: engine.ORACLE_SQL[k] for k in oracle_keys}
    cache_id = source_hash(sf_dir, json.dumps(sql, sort_keys=True))
    path = os.path.join(WORK, "cache", f"expected-{cache_id}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh), cache_id
    con = duckdb.connect()
    try:
        for t in engine.session.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        frames = {k: con.execute(q).df() for k, q in sql.items()}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(frames, fh)
    os.replace(path + ".tmp", path)
    return frames, cache_id


# --------------------------------------------------------------------------
# Session


class Session:
    """Imports the package and owns the SparkSession and its JVM."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        for sub in ("local", "tmp", "stage"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        os.environ["SSKOS_STAGE_DIR"] = os.path.join(run_dir, "stage")
        os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
        # Keep the JVM's temp files in the run directory too; without perf
        # data it writes no hsperfdata file under the system temp dir.
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={run_dir}/tmp "
            f"-XX:-UsePerfData' pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = None
        self.timings: dict[str, float] = {}
        t0 = time.monotonic()
        sys.path.insert(0, ROOT)
        import spark_streaming_kafka_offset_spark as engine

        self.engine = engine
        self.timings["import_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        self.spark = engine.session.get_spark("perfbench")
        self.timings["get_spark_s"] = time.monotonic() - t0
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def start_event_log(self, log_dir: str):
        """Attach an uncompressed event-log listener to the running
        SparkContext; returns it for :meth:`stop_event_log`."""
        os.makedirs(log_dir, exist_ok=True)
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        listener.start()
        jsc.addSparkListener(listener)
        return listener

    def stop_event_log(self, listener) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(listener)
        listener.stop()

    def peak_rss_mb(self) -> float:
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(self.jvm_pid))) / 1024.0

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        import subprocess

        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        # The JVM gateway exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and its
    descendants (the JVM, and any Python workers it starts): each live
    process, plus what its reaped children used.  Time the hypervisor
    steals from the VM is not counted."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Fields after "(comm)": state, ppid, ... utime, stime, cutime, cstime.
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def measured_unit(work, traced: bool) -> dict:
    """One unit of work, with the CPU seconds it cost."""
    cpu0 = tree_cpu_s()
    unit = work.run_unit(traced)
    unit["cpu_s"] = tree_cpu_s() - cpu0
    return unit


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# --------------------------------------------------------------------------
# Batch workloads


def to_pandas(rows: list, schema, tz: str, struct_mode: str):
    """``DataFrame.toPandas`` (non-Arrow path) over rows already collected."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    cols = [f.name for f in schema.fields]
    if not rows:
        return pd.DataFrame(columns=cols)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=cols)
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=tz,
                struct_in_pandas="row" if struct_mode == "legacy" else struct_mode,
                error_on_duplicated_field_names=False,
                timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def rows_digest(pdf) -> tuple[int, str]:
    from tools.driver_canon import canon_frame

    canon = canon_frame(pdf)
    return len(canon), hashlib.sha256(json.dumps(canon).encode()).hexdigest()


class BatchWorkload:
    def __init__(self, name: str, s: Session, sf_dir: str, seed: int):
        self.s, self.sf_dir = s, sf_dir
        self.unit_s = UNIT_S[name]
        self.keys = list(BATCH_KEYS[name])
        random.Random(seed).shuffle(self.keys)
        with open(os.path.join(HERE, "expected_rows_only.json"), encoding="utf-8") as fh:
            self.rows_only = json.load(fh)
        self.expected, cache_id = expected_frames(s.engine, sf_dir, self.keys)
        # Verdicts reached by comparing an answer with the oracle, keyed by
        # a digest of the collected rows: an identical answer in a later
        # run shares the verdict without repeating the pandas comparison.
        self.verdict_path = os.path.join(
            WORK, "cache",
            f"verdicts-{source_hash(cache_id, json.dumps(self.rows_only))}.json",
        )
        self.verdicts: dict[str, list[str]] = {}
        if os.path.exists(self.verdict_path):
            with open(self.verdict_path, encoding="utf-8") as fh:
                self.verdicts = json.load(fh)

    def warmup(self) -> None:
        """WARMUP_PASSES whole passes, unmeasured: the first pass after
        start costs about twice the CPU of the next (JIT compilation)."""
        for _ in range(WARMUP_PASSES):
            self.run_unit(traced=False)

    def run_unit(self, traced: bool) -> dict:
        """One pass: every key built and collected once, in seed order."""
        sc, queries = self.s.sc, self.s.engine.QUERIES
        tracker = sc.statusTracker()
        ops = []
        t_pass = time.monotonic()
        for key in self.keys:
            op = {"key": key, "error": None}
            sc.setJobGroup(key, key)
            jobs0 = len(tracker.getJobIdsForGroup(key)) if traced else 0
            t0 = time.monotonic()
            try:
                df = queries[key](self.s.spark, self.sf_dir)
                t1 = time.monotonic()
                if traced:
                    op["build_jobs"] = len(tracker.getJobIdsForGroup(key)) - jobs0
                rows = df.collect()
                t2 = time.monotonic()
                op.update(build_s=t1 - t0, collect_s=t2 - t1, rows=rows, schema=df.schema)
            except Exception:
                op["error"] = traceback.format_exc(limit=3)
            if traced:
                op["jobs"] = len(tracker.getJobIdsForGroup(key)) - jobs0
            ops.append(op)
        return {"wall_s": time.monotonic() - t_pass, "ops": ops}

    def check(self, units: list[dict]) -> tuple[int, int, list[str]]:
        """Compare every collected answer; returns (attempted, failed, problems)."""
        from tools.driver_canon import compare_frames

        tz = self.s.spark.conf.get("spark.sql.session.timeZone")
        struct_mode = self.s.spark._jconf.pandasStructHandlingMode()
        attempted = failed = 0
        problems = []
        for unit in units:
            for op in unit["ops"]:
                attempted += 1
                key = op["key"]
                if op["error"]:
                    failed += 1
                    problems.append(f"{key}: raised {op['error'].strip().splitlines()[-1]}")
                    continue
                rows, schema = op.pop("rows"), op.pop("schema")
                seen = key + ":" + hashlib.sha256(
                    "\n".join([repr(schema), *sorted(map(repr, rows))]).encode()
                ).hexdigest()
                if seen not in self.verdicts:
                    pdf = to_pandas(rows, schema, tz, struct_mode)
                    if key in ROWS_ONLY:
                        n, digest = rows_digest(pdf)
                        want = self.rows_only[key]
                        self.verdicts[seen] = [] if (n, digest) == (
                            want["rows"], want["sha256"]
                        ) else [
                            f"rows={n} sha256={digest[:12]} expected "
                            f"rows={want['rows']} sha256={want['sha256'][:12]}"
                        ]
                    else:
                        self.verdicts[seen] = compare_frames(pdf, self.expected[key])
                bad = self.verdicts[seen]
                if bad:
                    failed += 1
                    problems.append(f"{key}: {'; '.join(bad)[:300]}")
        with open(self.verdict_path + ".tmp", "w", encoding="utf-8") as fh:
            json.dump(self.verdicts, fh)
        os.replace(self.verdict_path + ".tmp", self.verdict_path)
        return attempted, failed, problems

    def end_to_end(self, units: list[dict]) -> dict:
        times = [
            op["build_s"] + op["collect_s"]
            for u in units for op in u["ops"] if not op["error"]
        ]
        return {
            "wall_s": median([u["wall_s"] for u in units]),
            "query_p50_s": median(times),
            "n_queries": len(times),
        }

    def layers(self, units: list[dict], groups: dict) -> dict:
        n = len(units)
        out: dict[str, float] = Counter()
        per_key: dict[str, dict[str, list]] = {}
        for u in units:
            for op in u["ops"]:
                if op["error"]:
                    continue
                d = per_key.setdefault(op["key"], {"build_s": [], "collect_s": [], "build_jobs": []})
                d["build_s"].append(op["build_s"])
                d["collect_s"].append(op["collect_s"])
                d["build_jobs"].append(op.get("build_jobs", 0))
                module = self.s.engine.QUERIES[op["key"]].__module__
                layer = "functions" if ".functions." in module else "operators"
                out["plans.build_s"] += op["build_s"] / n
                out["plans.build_jobs"] += op.get("build_jobs", 0) / n
                out[f"{layer}.collect_s"] += op["collect_s"] / n
        for key, d in per_key.items():
            out[f"plans.build_s.{key}"] = median(d["build_s"])
            out[f"collect_s.{key}"] = median(d["collect_s"])
            out[f"plans.build_jobs.{key}"] = median(d["build_jobs"])
            c = groups.get(key, Counter())
            for name in ("jobs", "tasks", "shuffle_write_bytes"):
                out[f"spark.{name}.{key}"] = c[name] / n
        return dict(out)


# --------------------------------------------------------------------------
# offset_ledger


class LedgerWorkload:
    def __init__(self, s: Session, sf_dir: str, seed: int):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.s = s
        self.unit_s = UNIT_S["offset_ledger"]
        from spark_streaming_kafka_offset_spark.streaming.core import _EVENT_COLS

        tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=_EVENT_COLS)
        ts = pc.cast(tbl["ts"], pa.timestamp("us"), safe=False)
        tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts)
        tbl = tbl.take(np.random.default_rng(seed).permutation(len(tbl)))
        self.n_events = len(tbl) - len(tbl) % STREAM_FILES
        per_file = self.n_events // STREAM_FILES
        files_dir = os.path.join(s.run_dir, "files")
        os.makedirs(files_dir)
        self.files = []
        for i in range(STREAM_FILES):
            path = os.path.join(files_dir, f"events-{i:03d}.parquet")
            pq.write_table(tbl.slice(i * per_file, per_file), path)
            self.files.append(path)
        self.per_file = per_file
        self.warm_files = []
        for i in range(WARMUP_FILES):
            path = os.path.join(files_dir, f"warmup-{i:03d}.parquet")
            pq.write_table(tbl.slice(i * WARMUP_EVENTS, WARMUP_EVENTS), path)
            self.warm_files.append(path)
        self.n_units = 0

    def _drain(self, in_dir: str, ledger, ckpt: str, calls: list, group: str):
        from spark_streaming_kafka_offset_spark.streaming.core import read_event_stream

        sc = self.s.sc

        def process(df, batch_id):
            sc.setJobGroup(f"{group}-{batch_id}", group)
            t0 = time.monotonic()
            ledger.process(df, batch_id)
            calls.append((batch_id, time.monotonic() - t0))

        t_start = time.time()
        t0 = time.monotonic()
        q = (
            read_event_stream(self.s.spark, in_dir, max_files_per_trigger=1)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.monotonic() - t0
        return wall, t_start, [p for p in q.recentProgress if p.numInputRows > 0]

    def _add_files(self, in_dir: str, paths: list[str]) -> None:
        """Copy files into the watched directory with increasing mtimes, so
        the file source takes them in order."""
        base = time.time()
        for i, path in enumerate(paths):
            dst = os.path.join(in_dir, os.path.basename(path))
            shutil.copyfile(path, dst)
            os.utime(dst, (base + i, base + i))

    def warmup(self) -> None:
        """A small drain with restart on its own checkpoint and sink: the
        first drain after start costs about 1.5 times the CPU of later
        ones (JIT)."""
        shutil.rmtree(self._drain_restart(self.warm_files, "warmup", "warmup")["root"])

    def run_unit(self, traced: bool) -> dict:
        self.n_units += 1
        return self._drain_restart(self.files, f"unit{self.n_units}", "ledger-batch")

    def _drain_restart(self, files: list[str], name: str, group: str) -> dict:
        """Drain half the files, restart on the same checkpoint, drain the rest."""
        from spark_streaming_kafka_offset_spark.streaming.offsets import OffsetLedger

        root = os.path.join(self.s.run_dir, name)
        in_dir, ckpt = os.path.join(root, "in"), os.path.join(root, "ckpt")
        os.makedirs(in_dir)
        ledger = OffsetLedger(os.path.join(root, "out"))
        half = len(files) // 2
        calls1: list = []
        calls2: list = []
        self._add_files(in_dir, files[:half])
        wall1, _, prog1 = self._drain(in_dir, ledger, ckpt, calls1, group)
        self._add_files(in_dir, files[half:])
        wall2, t_restart, prog2 = self._drain(in_dir, ledger, ckpt, calls2, group)
        resume_s = 0.0
        if prog2:
            first = prog2[0]
            started = dt.datetime.strptime(first.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            committed = started.replace(tzinfo=dt.timezone.utc).timestamp() + (
                first.durationMs["triggerExecution"] / 1000.0
            )
            resume_s = committed - t_restart
        return {
            "wall_s": wall1 + wall2,
            "resume_s": resume_s,
            "root": root,
            "ledger": ledger,
            "calls1": calls1,
            "calls2": calls2,
            "progress": prog1 + prog2,
        }

    def check(self, units: list[dict]) -> tuple[int, int, list[str]]:
        """Exactly-once output: every event once in the sink, a gap-free
        ledger summing to the input, no batch replayed after the restart."""
        import numpy as np
        import pyarrow.dataset as ds

        attempted = failed = 0
        problems = []
        for u in units:
            calls = u["calls1"] + u["calls2"]
            attempted += STREAM_FILES
            first_ids = {b for b, _ in u["calls1"]}
            replayed = [b for b, _ in u["calls2"] if b in first_ids]
            u["replayed"] = len(replayed)
            ledger = ds.dataset(u["ledger"].ledger_dir, format="parquet")
            lt = ledger.to_table(columns=["batch_id", "n_rows"]).to_pydict()
            n_rows = dict(zip(lt["batch_id"], lt["n_rows"]))
            ids = ds.dataset(u["ledger"].sink_dir, format="parquet").to_table(
                columns=["event_id"]
            )["event_id"].to_numpy()
            bad_batches = {b for b in range(STREAM_FILES) if n_rows.get(b) != self.per_file}
            bad_batches |= set(replayed)
            bad_batches |= {b for b in n_rows if not 0 <= b < STREAM_FILES}
            if sorted(b for b, _ in calls) != list(range(STREAM_FILES)):
                problems.append(f"processed batch ids {sorted(b for b, _ in calls)}")
            if len(ids) != self.n_events or len(np.unique(ids)) != self.n_events:
                problems.append(
                    f"sink rows={len(ids)} distinct={len(np.unique(ids))} "
                    f"expected {self.n_events}"
                )
                bad_batches.add(-1)
            if sum(n_rows.values()) != self.n_events:
                problems.append(f"ledger sum n_rows={sum(n_rows.values())}")
                bad_batches.add(-1)
            if bad_batches:
                problems.append(f"bad batches {sorted(bad_batches)}; replayed {replayed}")
            failed += min(len(bad_batches), STREAM_FILES)
            shutil.rmtree(u.pop("root"), ignore_errors=True)
        return attempted, failed, problems

    def end_to_end(self, units: list[dict]) -> dict:
        batch = [p.durationMs["triggerExecution"] / 1000.0 for u in units for p in u["progress"]]
        wall = median([u["wall_s"] for u in units])
        return {
            "wall_s": wall,
            "batch_p50_s": median(batch),
            "batch_p75_s": p75(batch),
            "n_batches": len(batch),
            "events_per_s": self.n_events / wall,
            "resume_s": median([u["resume_s"] for u in units]),
        }

    def layers(self, units: list[dict], groups: dict) -> dict:
        progress = [p for u in units for p in u["progress"]]
        out = {
            "offsets.process_s": median([t for u in units for _, t in u["calls1"] + u["calls2"]]),
            "offsets.jobs_per_batch": median(
                [c["jobs"] for g, c in groups.items() if g.startswith("ledger-batch-")]
            ),
            "streaming.batches": len(progress) / len(units),
            "streaming.rows_per_batch": median([p.numInputRows for p in progress]),
            "streaming.replayed_batches": sum(u.get("replayed", 0) for u in units),
        }
        for name, key in STREAM_DURATIONS.items():
            out[f"streaming.{name}"] = median([p.durationMs.get(key, 0) for p in progress])
        return out


# --------------------------------------------------------------------------
# Entry point


def host_record(s: Session, seed: int) -> dict:
    from bench import cpu_fingerprint

    return {
        "seed": seed,
        "fingerprint": cpu_fingerprint(),
        "master": s.sc.master,
        "default_parallelism": s.sc.defaultParallelism,
    }


def run(args) -> dict:
    sf_dir = prepare_data()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    s = None
    try:
        s = Session(run_dir)
        if args.workload == "offset_ledger":
            work = LedgerWorkload(s, sf_dir, args.seed)
        else:
            work = BatchWorkload(args.workload, s, sf_dir, args.seed)
        t0 = time.monotonic()
        work.warmup()
        s.timings["warmup_s"] = time.monotonic() - t0
        setup_s = sum(s.timings[k] for k in ("import_s", "get_spark_s", "warmup_s"))
        session_layers = {f"session.{k}": v for k, v in s.timings.items()}

        host = host_record(s, args.seed)
        # A fixed number of units for the requested seconds, so that both
        # sides of an A/B do the same work whatever their speed.
        n_units = max(1, round(args.seconds / work.unit_s))
        units = [measured_unit(work, traced=False) for _ in range(n_units)]
        e2e = work.end_to_end(units)
        e2e["setup_s"] = setup_s
        e2e["cpu_s"] = median([u["cpu_s"] for u in units])
        attempted, failed, problems = work.check(units)

        layers: dict[str, float] = {}
        if args.trace:
            # One more unit of the same warm session, traced; its wall
            # minus that of the untraced units is the tracing overhead.
            log_dir = os.path.join(run_dir, "eventlog")
            listener = s.start_event_log(log_dir)
            traced_units = [work.run_unit(traced=True)]
            s.stop_event_log(listener)
            groups = eventlog.counters_by_group(log_dir)
            a, f, p = work.check(traced_units)
            attempted, failed, problems = attempted + a, failed + f, problems + p
            layers = dict.fromkeys(per_layer_units(), 0.0)
            layers.update(session_layers)
            traced_wall = work.end_to_end(traced_units)["wall_s"]
            totals = eventlog.total(groups)
            n = len(traced_units)
            for name in eventlog.COUNTERS:
                layers[f"spark.{name}"] = totals[name] / n
            layers["spark.slot_busy_ratio"] = totals["executor_run_ms"] / (
                traced_wall * 1000.0 * host["default_parallelism"]
            )
            layers.update(work.layers(traced_units, groups))
            layers["trace.overhead_s"] = traced_wall - e2e["wall_s"]
        e2e["peak_rss_mb"] = s.peak_rss_mb()
    finally:
        if s is not None:
            s.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "host": host,
        "e2e": e2e,
        "layers": layers,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "units": [
            f"{i} wall_s={u['wall_s']:.3f} cpu_s={u['cpu_s']:.3f}"
            for i, u in enumerate(units)
        ],
        "ops": [
            f"{op['key']} build_s={op.get('build_s', 0):.3f} collect_s={op.get('collect_s', 0):.3f}"
            for u in units for op in u.get("ops", [])
        ],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    res = run(args)

    host = res["host"]
    log(f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"master={host['master']} defaultParallelism={host['default_parallelism']}")
    log(f"host {json.dumps(host['fingerprint'], sort_keys=True)}")
    for unit in res["units"]:
        log(f"unit {unit}")
    for op in res["ops"]:
        log(f"op {op}")
    for problem in res["problems"]:
        log(f"MISMATCH {problem}")
    e2e = res["e2e"]
    fail_ratio = res["failed"] / res["attempted"]
    for name, value in sorted(e2e.items()):
        log(f"{name} = {value:.6g} {REPORTED_UNITS[name]}")
    log(f"fail_ratio = {fail_ratio:.6g} ratio ({res['failed']}/{res['attempted']})")
    units = per_layer_units()
    for name, value in sorted(res["layers"].items()):
        unit = units.get(name) or PER_KEY[name.rsplit(".", 1)[0]]
        log(f"layer {name} = {value:.6g} {unit}")

    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
