"""Workload ``etl-ingest``: the TestLog-ETL write path, with read-back.

The seed generates a stream of CI artifacts (``gen.ci_artifacts``).  The
run is a sequence of cycles of ``len(CYCLE)`` ops: six new mozlog
artifacts, one text log, one Perfherder log and one re-delivery of a
mozlog artifact the cycle ingested earlier, in a seeded order, then one
read-back of the cycle's documents.  Each cycle writes to a sink of its
own, so every cycle does the same work for a seed however many cycles
fit in ``--seconds``: a read-back scans one cycle's files, not all the
files written so far.  The sinks are deleted with the rest of the work
directory when the run ends, not between cycles.  An untimed warm-up
cycle on a side sink precedes them; its ops are checked and counted in
``attempted`` like the timed ones.  The run stops at the first op boundary after
``--seconds`` once one timed cycle is complete.  ``pass_wall_s`` is one
typical cycle: the sum over the cycle's slots of the median wall of that
kind of op, and ``op_latency_p50_s`` the median of those per-slot walls
over the ingest slots: the median mozlog op, whatever share of cheaper
text and Perfherder ops the window happened to hold.

An ingest op reads the artifact with ``jsonl_source.read_jsonl_tolerant``,
runs the transform (``mozlog.test_results`` + ``suite_summaries``,
``text_log.parse_steps`` or ``perfherder.extract_perf``), stamps it with
``lineage.stamp`` and writes it with ``sink.write_idempotent``,
partitioned by day (framework for perf docs) and artifact.  A read-back
op runs two ``query.run_jx`` queries over the cycle's documents, a
groupby and an edges cube, and collects their answers.

Checks, all outside the timed ops: the documents an op wrote equal a
pure-Python recomputation from the generator's records; a re-delivery
leaves the sink's ``_id`` set and row count unchanged; the dead letters
equal the injected malformed lines; each read-back answer equals the
same aggregate over the recomputed documents of the cycle.  A failed
check fails the op.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
import statistics
import sys
from collections import defaultdict

from perfbench import gen
from perfbench.harness import Bench, exec_layer_metrics, tail_percentile, unit, wall_metrics

CYCLE = ("mozlog",) * 6 + ("text", "perf", "redeliver", "readback")
NEW_KINDS = [k for k in CYCLE if k in ("mozlog", "text", "perf")]
WARM_BATCH = 999  # artifact batch of the untimed warm-up cycle

READBACK_QUERIES = (
    # unexpected-failure count per suite and day, over the test documents
    {
        "from": "tests",
        "groupby": ["suite", "day"],
        "select": [
            {"name": "tests", "value": ".", "aggregate": "count"},
            {"name": "unexpected", "value": {"when": {"eq": {"ok": False}}, "then": 1, "else": 0}, "aggregate": "sum"},
        ],
    },
    # dense per-suite cube over the suite summaries
    {
        "from": "suites",
        "edges": [{"name": "suite", "value": "suite", "domain": {"type": "set", "partitions": list(gen.SUITES)}}],
        "select": [
            {"name": "tests", "value": "test_count", "aggregate": "sum"},
            {"name": "unexpected", "value": "unexpected_count", "aggregate": "sum"},
        ],
    },
)


def _schemas():
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    mozlog = StructType(
        [StructField("suite_key", StringType()), StructField("action", StringType()), StructField("time", DoubleType())]
        + [StructField(c, StringType()) for c in ("test", "subtest", "status", "expected")]
    )
    lines = StructType([StructField("log_key", StringType()), StructField("value", StringType())])
    return {"mozlog": mozlog, "text": lines, "perf": lines}


# ---------------------------------------------------------------------------
# the ops
# ---------------------------------------------------------------------------


def ingest(b: Bench, spark, op: int, art: gen.Artifact, path: str, sink: str):
    """One timed ingest op; -> the dead-letter frame (still cached)."""
    from pyspark.sql import functions as F

    from testlog_etl_spark.etl import lineage, mozlog, perfherder, text_log
    from testlog_etl_spark.etl.jsonl_source import read_jsonl_tolerant
    from testlog_etl_spark.etl.sink import write_idempotent

    with b.tracer.span("ingest", op):
        with b.phase(op, "build"):
            good, bad = read_jsonl_tolerant(spark, path, _schemas()[art.kind])
            artifact = F.lit(art.key).alias("artifact")
            if art.kind == "mozlog":
                suite = F.substring_index("suite_key", ".", 1).alias("suite")
                results = mozlog.test_results(good)
                tests = results.select("*", suite, F.to_date(F.timestamp_seconds("start_time")).alias("day"), artifact)
                tests = lineage.stamp(tests, lineage.deterministic_id("suite_key", "test"), art.key, "mozlog.test_results")
                suites = mozlog.suite_summaries(results)
                suites = suites.select("*", suite, F.to_date(F.timestamp_seconds("suite_start")).alias("day"), artifact)
                suites = lineage.stamp(suites, lineage.deterministic_id("suite_key"), art.key, "mozlog.suite_summaries")
                writes = [(tests, "tests", ["suite_key", "test"], ["day", "artifact"]),
                          (suites, "suites", ["suite_key"], ["day", "artifact"])]
            elif art.kind == "text":
                steps = text_log.parse_steps(good).select("*", F.to_date("start_time").alias("day"), artifact)
                steps = lineage.stamp(steps, lineage.deterministic_id("log_key", "step"), art.key, "text_log.parse_steps")
                writes = [(steps, "steps", ["log_key", "step"], ["day", "artifact"])]
            else:
                perf = perfherder.extract_perf(good).select("*", artifact)
                perf = lineage.stamp(perf, lineage.deterministic_id("log_key", "suite", "subtest"), art.key, "perfherder")
                writes = [(perf, "perf", ["log_key", "suite", "subtest"], ["framework", "artifact"])]
        with b.phase(op, "exec"):
            for df, name, ids, parts in writes:
                write_idempotent(df, os.path.join(sink, name), ids, partition_by=parts)
    return bad


def readback(b: Bench, spark, op: int, sink: str) -> list[list]:
    """One timed read-back op; -> the collected answer of each query."""
    from testlog_etl_spark.query import run_jx

    answers = []
    with b.tracer.span("readback", op):
        for query in READBACK_QUERIES:
            with b.phase(op, "build"):
                table = spark.read.parquet(os.path.join(sink, query["from"]))
                df = run_jx(spark, query, {query["from"]: table})
            with b.phase(op, "exec"):
                answers.append(df.collect())
    return answers


# ---------------------------------------------------------------------------
# pure-Python model of the documents
# ---------------------------------------------------------------------------


def _day(epoch_s: float) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).date().isoformat()


def expected_docs(art: gen.Artifact) -> dict[str, dict[tuple, dict]]:
    """sink name -> natural key -> the document fields the sink must hold."""
    if art.kind == "mozlog":
        return _mozlog_docs(art)
    if art.kind == "text":
        return _text_docs(art)
    return _perf_docs(art)


def _mozlog_docs(art: gen.Artifact):
    tests: dict[tuple, dict] = {}
    for r in art.records:
        d = tests.setdefault(
            (r["suite_key"], r["test"]),
            dict(start_time=None, end_time=None, status=None, expected=None,
                 subtest_count=0, subtest_pass=0, subtest_fail=0, end_unexpected=False),
        )
        unexpected = r["status"] != (r["expected"] if r["expected"] is not None else r["status"])
        if r["action"] == "test_start":
            d["start_time"] = r["time"]
        elif r["action"] == "test_status":
            d["subtest_count"] += 1
            d["subtest_fail" if unexpected else "subtest_pass"] += 1
        else:
            d["end_time"], d["status"], d["end_unexpected"] = r["time"], r["status"], unexpected
            d["expected"] = r["expected"] if r["expected"] is not None else r["status"]
    suites: dict[tuple, dict] = {}
    for (suite_key, _test), d in tests.items():
        d["duration"] = d["end_time"] - d["start_time"]
        d["ok"] = not d.pop("end_unexpected") and d["subtest_fail"] == 0
        d["suite"] = suite_key.split(".")[0]
        d["day"] = _day(d["start_time"])
        s = suites.setdefault(
            (suite_key,),
            dict(test_count=0, unexpected_count=0, subtest_count=0, suite_start=d["start_time"],
                 suite_end=d["end_time"], total_test_seconds=0.0, suite=d["suite"]),
        )
        s["test_count"] += 1
        s["unexpected_count"] += not d["ok"]
        s["subtest_count"] += d["subtest_count"]
        s["suite_start"] = min(s["suite_start"], d["start_time"])
        s["suite_end"] = max(s["suite_end"], d["end_time"])
        s["total_test_seconds"] += d["duration"]
    for s in suites.values():
        s["day"] = _day(s["suite_start"])
    return {"tests": tests, "suites": suites}


_STEP_MARK = re.compile(r"^=+ (Started|Finished) (.*?) \(results: (\d+), elapsed: (\d+) secs\) \(at ([0-9: .-]+)\) =+$")


def _text_docs(art: gen.Artifact):
    steps: dict[tuple, dict] = {}
    for r in art.records:
        m = _STEP_MARK.match(r["value"])
        if not m:
            continue
        kind, step, code, elapsed, at = m.groups()
        d = steps.setdefault((r["log_key"], step), {})
        at_us = int(dt.datetime.fromisoformat(at).replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        if kind == "Started":
            d["start_time"] = at_us
            d["day"] = at[:10]
        else:
            d.update(end_time=at_us, result_code=int(code), elapsed=int(elapsed), ok=int(code) == 0)
    return {"steps": steps}


def _perf_docs(art: gen.Artifact):
    perf: dict[tuple, dict] = {}
    for r in art.records:
        if "PERFHERDER_DATA: " not in r["value"]:
            continue
        blob = json.loads(r["value"].split("PERFHERDER_DATA: ", 1)[1])
        for s in blob["suites"]:
            for t in s["subtests"]:
                reps = t["replicates"]
                perf[(r["log_key"], s["name"], t["name"])] = dict(
                    framework=blob["framework"]["name"], suite_value=s["value"], subtest_value=t["value"],
                    replicate_count=len(reps), replicate_mean=sum(reps) / len(reps),
                    replicate_min=min(reps), replicate_max=max(reps),
                )
    return {"perf": perf}


_KEYS = {"tests": ("suite_key", "test"), "suites": ("suite_key",), "steps": ("log_key", "step"),
         "perf": ("log_key", "suite", "subtest")}


def read_sink(path: str, artifact: str | None = None) -> list[dict]:
    """Documents under one sink directory (one artifact's, if given)."""
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    data = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("artifact") == artifact if artifact is not None else None
    table = data.to_table(filter=flt)
    for i, field in enumerate(table.schema):
        if str(field.type).startswith("timestamp"):
            us = table.column(i).cast("timestamp[us]").cast("int64")
            table = table.set_column(i, field.name, us)
    return table.to_pylist()


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b) if a is not None and b is not None else a is b


def check_docs(sink: str, art: gen.Artifact) -> list[str]:
    """Differences between what the sink holds for ``art`` and the model."""
    problems = []
    for name, want in expected_docs(art).items():
        got = {tuple(d[k] for k in _KEYS[name]): d for d in read_sink(os.path.join(sink, name), art.key)}
        if set(got) != set(want):
            problems.append(f"{name}: {len(got)} docs, expected {len(want)}")
            continue
        for key, fields in want.items():
            bad = [f for f, v in fields.items() if not _same(got[key].get(f), v)]
            if bad:
                problems.append(f"{name}{key}: {bad} {[(got[key].get(f), fields[f]) for f in bad]}")
                break
    return problems


def readback_expected(query: dict, docs: dict[str, dict[tuple, dict]]) -> set[tuple]:
    if query["from"] == "tests":
        acc: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
        for d in docs["tests"].values():
            a = acc[(d["suite"], d["day"])]
            a[0] += 1
            a[1] += not d["ok"]
        return {(s, day, n, u) for (s, day), (n, u) in acc.items()}
    acc2: dict[str, list[int]] = {s: [0, 0] for s in gen.SUITES}
    for d in docs["suites"].values():
        acc2[d["suite"]][0] += d["test_count"]
        acc2[d["suite"]][1] += d["unexpected_count"]
    return {(s, n, u) for s, (n, u) in acc2.items()}


def readback_got(query: dict, rows) -> set[tuple]:
    if query["from"] == "tests":
        return {(r["suite"], str(r["day"]), r["tests"], r["unexpected"]) for r in rows}
    # the dense cube also carries a null-suite cell for out-of-domain values
    return {(r["suite"], r["tests"] or 0, r["unexpected"] or 0) for r in rows if r["suite"] is not None}


def _sink_state(sink: str) -> tuple[int, frozenset]:
    rows = [d["_id"] for name in ("tests", "suites", "steps", "perf") for d in read_sink(os.path.join(sink, name))]
    return len(rows), frozenset(rows)


def _files(sink: str, artifact: str) -> tuple[int, int]:
    """(data files, bytes) the sink holds for one artifact."""
    n = size = 0
    for root, _dirs, files in os.walk(sink):
        if f"artifact={artifact}" in root:
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------


class _Stream:
    """The artifacts delivered in the current cycle and the model of the
    cycle's sink."""

    def __init__(self, b: Bench, root: str) -> None:
        self.b, self.root = b, root
        self.paths: dict[str, str] = {}
        self.new_cycle()

    def new_cycle(self) -> None:
        self.arts: dict[str, gen.Artifact] = {}
        self.docs: dict[str, dict[tuple, dict]] = {"tests": {}, "suites": {}, "steps": {}, "perf": {}}

    def batch(self, batch: int, kinds: list[str]) -> list[gen.Artifact]:
        with self.b.excluded(gen=True):
            arts = gen.ci_artifacts(self.b.seed, batch, kinds)
            self.paths.update(gen.write_artifacts(os.path.join(self.root, "artifacts"), arts))
        return arts

    def delivered(self, art: gen.Artifact) -> None:
        if art.key not in self.arts:
            self.arts[art.key] = art
            for name, docs in expected_docs(art).items():
                self.docs[name].update(docs)


def cycle_order(rng: random.Random) -> list[str]:
    """The slots of one cycle: the ingests in a seeded order, with a
    mozlog ingest before the re-delivery (it re-delivers a mozlog
    artifact, so that every re-delivery does the same kind of work), then
    the read-back, which reads every document the cycle wrote."""
    slots = [k for k in CYCLE if k not in ("redeliver", "readback")]
    rng.shuffle(slots)
    first_mozlog = slots.index("mozlog")
    slots.insert(rng.randint(first_mozlog + 1, len(slots)), "redeliver")
    return slots + ["readback"]


def _check_ingest(stream: _Stream, sink: str, art: gen.Artifact, bad, before, totals) -> list[str]:
    """Checks of one ingest op (``before``: the sink state before a
    re-delivery, else None), and its figures for the traced run."""
    problems = []
    stream.delivered(art)
    dead = sorted(r.raw_line for r in bad.collect())
    if dead != sorted(art.malformed):
        problems.append(f"{art.key}: {len(dead)} dead letters, {len(art.malformed)} injected")
    problems += check_docs(sink, art)
    if before is not None and _sink_state(sink) != before:
        problems.append(f"{art.key}: re-delivery changed the sink")
    totals["injected"] += len(art.malformed)
    totals["dead"] += len(dead)
    if before is None:
        files, size = _files(sink, art.key)
        totals["files"] += files
        totals["out_bytes"] += size
        totals["in_bytes"] += os.path.getsize(stream.paths[art.key])
    totals["lines"] += len(art.lines)
    return problems


def _cycle(b: Bench, spark, stream: _Stream, rng: random.Random, arts: list[gen.Artifact], sink: str,
           lat: dict[str, list[float]], totals: dict[str, float], cut: bool) -> None:
    """One cycle's ops on ``arts`` into a fresh ``sink``, each checked
    after it; when ``cut``, it stops at the end of the timed window.  The
    sink is left in place: on a disk mounted with online discard, files
    deleted inside the timed window slow the file creation of later ops."""
    stream.new_cycle()
    pending = list(arts)
    for slot in cycle_order(rng):
        if cut and b.timed_elapsed() >= b.seconds:
            break
        op = b.new_op(slot)
        b.attempted += 1
        problems: list[str] = []
        outer = b.tracer.span(slot, op)
        try:
            if slot == "readback":
                with outer:
                    answers = readback(b, spark, op, sink)
                with b.excluded():  # checks are not set-up time in the warm-up cycle
                    for q in READBACK_QUERIES:
                        totals["files_scanned"] += _parquet_files(os.path.join(sink, q["from"]))
                    for q, rows in zip(READBACK_QUERIES, answers):
                        if readback_got(q, rows) != readback_expected(q, stream.docs):
                            problems.append(f"read-back {q['from']} differs from the model")
            else:
                before = None
                if slot == "redeliver":
                    art = stream.arts[rng.choice(sorted(k for k, a in stream.arts.items() if a.kind == "mozlog"))]
                    with b.excluded():
                        before = _sink_state(sink)
                else:
                    art = next(a for a in pending if a.kind == slot)
                    pending.remove(art)
                with outer:
                    bad = ingest(b, spark, op, art, stream.paths[art.key], sink)
                with b.excluded():
                    problems = _check_ingest(stream, sink, art, bad, before, totals)
        except Exception:
            b.op_failed(f"{slot} op {op}")
        else:
            if problems:
                b.failed += 1
                print(f"perfbench: op {op} ({slot}) check failed: {problems}", file=sys.stderr)
        if outer.index >= 0:  # the op got as far as its timed part
            lat[slot].append(outer.seconds)
        spark.catalog.clearCache()


def run(b: Bench):
    stream = _Stream(b, b.work)
    warm = stream.batch(WARM_BATCH, NEW_KINDS)
    spark = b.start_spark()
    rng = random.Random(b.seed)

    # warm-up: one whole cycle on a side sink, checked like the timed ones.
    # A fresh session's ingest ops keep getting faster for about ten ops
    # (mozlog ops fell from 2.4 to 1.4 s over the first twelve on a 4-core
    # box), so a shorter warm-up leaves that trend in the timed window.
    _cycle(b, spark, stream, rng, warm, os.path.join(b.work, "warm_sink"), defaultdict(list), defaultdict(float), False)
    b.setup_done()

    lat: dict[str, list[float]] = {slot: [] for slot in CYCLE}
    totals: dict[str, float] = defaultdict(float)
    cycle = 0
    while b.timed_elapsed() < b.seconds:
        arts = stream.batch(cycle, NEW_KINDS)
        _cycle(b, spark, stream, rng, arts, os.path.join(b.work, "sink", f"c{cycle:03d}"), lat, totals, cycle > 0)
        cycle += 1

    ingest_lat = [w for slot, ws in lat.items() if slot != "readback" for w in ws]
    kind_median = {slot: statistics.median(ws) for slot, ws in lat.items()}
    tail, tail_pct = tail_percentile(ingest_lat)
    end_to_end = {
        "setup_s": (b.setup_s, "s"),
        "pass_wall_s": (sum(kind_median[slot] for slot in CYCLE), "s"),
        "op_latency_p50_s": (statistics.median(kind_median[slot] for slot in CYCLE if slot != "readback"), "s"),
    }
    rss = b.peak_rss_mb()
    info = {"cycles": cycle, "ingest_ops": len(ingest_lat), "readback_ops": len(lat["readback"]),
            "op_latency_tail_s": tail, "tail_percentile": tail_pct, "op_walls_s": lat}
    b.stop_spark()
    if not b.traced:
        return end_to_end, {}, info
    stats = b.phase_stats()
    ingests = tuple(k for k in CYCLE if k != "readback")
    m = wall_metrics(b, stats)
    m.update({
        "peak_rss_mb": (rss, "MB"),
        "etl.build_s": (b.span_seconds("build", ingests), "s"),
        "etl.dead_letter_ratio": (totals["dead"] / totals["injected"] if totals["injected"] else 1.0, "ratio"),
        "etl.ingest_rows_per_s": (totals["lines"] / sum(ingest_lat), "1/s"),
        "sink.write_s": (b.span_seconds("exec", ingests), "s"),
        "sink.rows_written": (sum(st.output_records for st in stats.values()), "count"),
        "sink.files_written": (totals["files"], "count"),
        "sink.bytes_per_input_byte": (totals["out_bytes"] / totals["in_bytes"], "ratio"),
        "readback.build_s": (b.span_seconds("build", ("readback",)), "s"),
        "readback.exec_s": (b.span_seconds("exec", ("readback",)), "s"),
        "readback.files_scanned": (totals["files_scanned"], "count"),
        "readback.latency_p50_s": (statistics.median(lat["readback"]), "s"),
    })
    m.update({k: (v, unit(k)) for k, v in exec_layer_metrics(stats).items()})
    return end_to_end, m, info
