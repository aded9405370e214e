"""Benchmark of the knowledge-graph engine: one workload per run.

    python3 perfbench/run.py --workload parse_mixed --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``): ``parse_mixed`` and ``kg_build_html``.
Inputs come from ``gen.py`` and depend only on the seed. All load comes
from this one process on ``local[k]``, k <= nproc.

``--trace 0`` measures the end-to-end metrics with tracing off. Setup is
the run's one cold start: JVM, session, package shipping and a warm-up
parse. ``--trace 1`` makes the same run with spans and Spark's event log
on and reports the per-layer metrics: span counters folded from the
event log, the parse UDF's Python-boundary metrics, and the Python
sub-layers timed directly. It prints how much of the run wall the listed
layers' self times cover, and its tracing overhead against the untraced
run records of the same source.

Every operation is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (names and units
from BENCHMARK.json). Scratch files live under ``.perfbench_work/`` and
are removed at exit, except the run record in ``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the program under test, from this checkout
sys.path.insert(0, HERE)

import gen  # noqa: E402
import queries  # noqa: E402
import sublayers  # noqa: E402
import trace  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

from parser_rdf_spark.session import build_session  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
CORES = min(4, os.cpu_count() or 1)
PAGES = {"parse_mixed": 8000, "kg_build_html": 1000}
WARMUP_PAGES = 200
SPANS = ("session.build_session", "parse.parse_pages", "materialize.run",
         "extract.extract_all", "linking.connected_components",
         "materialize.build_vertices", "graphops.predicate_statistics",
         "materialize.maintenance", "sparql.plan", "sparql.exec")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU seconds the hypervisor gave other guests so far, over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest whole percentile with at least ten
    samples beyond it, or the maximum when that percentile would not
    reach the median (under 20 samples)."""
    n = len(values)
    p = (100 * n - 1000) // n
    if p < 50:
        return 100, max(values)
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def source_digest() -> str:
    """Digest of the program's and the benchmark's source, so run records
    of different code are never compared."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "parser_rdf_spark", "**", "*.py"),
                             recursive=True) + glob.glob(os.path.join(HERE, "*.py")))
    for path in files + [os.path.join(ROOT, "BENCHMARK.json")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class Session:
    """The run's Spark session; ``close`` stops it and its JVM and waits."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.event_dir = os.path.join(work, "events")

    def start(self, traced: bool):
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + self.event_dir})
        self.spark = build_session(app_name="perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()


def setup(sess: Session, warm, traced: bool, tr: trace.Tracer) -> tuple[float, Op, float]:
    """Session start, package shipping and a warm-up parse (Python worker
    spawn, codegen). Returns (seconds, the checked warm-up operation,
    seconds of the session start alone)."""
    t0 = time.perf_counter()
    with tr.span("session.build_session") as span:
        spark = sess.start(traced)
        t1 = time.perf_counter()
        if traced:
            tr.sc = spark.sparkContext
            tr.group(span)
        op = warm.op(spark)
    return time.perf_counter() - t0, op, t1 - t0


def end_to_end(ops, triples: int, setup_s: float) -> tuple[dict, dict]:
    """Throughput from the parse or build operations; latency from the
    queries, or from the parse operations where there are none."""
    work = [o.wall_s for o in ops if o.kind in ("parse", "build")]
    lat = [o.wall_s for o in ops if o.kind == "query" and o.wall_s > 0] or work
    p, tail_s = tail(lat)
    return {
        "triples_per_s": triples / statistics.median(work),
        "query_p50_ms": statistics.median(lat) * 1e3,
        "query_tail_ms": tail_s * 1e3,
        "setup_s": setup_s,
    }, {"tail_percentile": p, "samples": len(lat)}


def per_layer(corpus, traced_ops, tr, sub) -> dict:
    """Per-layer metrics of the traced setup and timed operations. A span's
    counters are its mean per call; a layer the workload never calls
    reads 0."""
    spans = [s for s in tr.spans if s["name"] in SPANS and s["phase"] != "prepare"]
    m = {}
    for sp in SPANS:
        mine = [s for s in spans if s["name"] == sp]
        n = len(mine) or 1
        tot = {k: sum(s[k] for s in mine) for k in trace.COUNTERS}
        m.update({
            f"{sp}.wall_s": sum(s["end"] - s["start"] for s in mine) / n,
            f"{sp}.jobs": tot["jobs"] / n,
            f"{sp}.tasks": tot["tasks"] / n,
            f"{sp}.executor_cpu_s": tot["executor_cpu_ns"] / 1e9 / n,
            f"{sp}.gc_s": tot["gc_ms"] / 1e3 / n,
            f"{sp}.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
            f"{sp}.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
            f"{sp}.spill_bytes": tot["spill_bytes"] / n,
            f"{sp}.peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in mine), default=0),
        })
    # the parse UDF's Python boundary: bytes and run time per parsing
    # operation; worker start and init over the run, setup included
    parsing = [o for o in traced_ops if o.kind in ("parse", "build")]
    loop_py = {k: sum(s[k] for s in spans if s["name"] != SPANS[0]) / len(parsing)
               for k in trace.COUNTERS if k.startswith("py_")}
    m.update({
        "parse.py_sent_bytes": loop_py["py_sent_bytes"],
        "parse.py_returned_bytes": loop_py["py_returned_bytes"],
        "parse.py_sent_bytes_per_triple": loop_py["py_sent_bytes"] / corpus.triples,
        "parse.py_run_s": loop_py["py_run_ms"] / 1e3,
        "parse.py_start_s": sum(s["py_start_ms"] for s in spans) / 1e3,
        "parse.py_init_s": sum(s["py_init_ms"] for s in spans) / 1e3,
    })
    m.update(sub)
    build = next((o.info for o in traced_ops if o.kind == "build"), {})
    m["linking.cc_jobs"] = m["linking.connected_components.jobs"]
    m["linking.components"] = build.get("components", 0)
    m["materialize.files_written"] = build.get("files_written", 0)
    m["materialize.bytes_written"] = build.get("bytes_written", 0)
    m["stored_bytes_per_input_byte"] = build.get("stored_bytes_per_input_byte", 0)
    for shape in (q["name"] for q in queries.shapes(0)):
        plan = [s for s in spans if s["name"] == "sparql.plan" and s["attrs"]["shape"] == shape]
        exe = [s for s in spans if s["name"] == "sparql.exec" and s["attrs"]["shape"] == shape]
        rows = sum(max(o.info.get("rows", 0), 1) for o in traced_ops
                   if o.info.get("shape") == shape)
        m[f"sparql.plan_ms.{shape}"] = (
            statistics.median(s["end"] - s["start"] for s in plan) * 1e3 if plan else 0)
        m[f"sparql.exec_ms.{shape}"] = (
            statistics.median(s["end"] - s["start"] for s in exe) * 1e3 if exe else 0)
        m[f"sparql.jobs.{shape}"] = sum(s["jobs"] for s in plan + exe) / len(exe) if exe else 0
        m[f"sparql.input_rows_per_result.{shape}"] = (
            sum(s["input_records"] for s in plan + exe) / rows if rows else 0)
    return m


def overhead(workload: str, source: str, ops) -> tuple[dict, int]:
    """Traced minus untraced median wall per operation kind, the untraced
    side being the median over the untraced run records of the workload
    made with the same source. Both sides pay the same cold start, which a
    comparison inside one process cannot give."""
    records = []
    for path in glob.glob(os.path.join(WORK, "results", f"{workload}-*-t0-*.json")):
        with open(path) as f:
            r = json.load(f)
        if r.get("source") == source:
            records.append(r["op_walls_s"])
    out = {}
    for kind in sorted({o.kind for o in ops}):
        untraced = [statistics.median(w for k, w in r if k == kind) for r in records]
        if untraced:
            out[kind] = (statistics.median(o.wall_s for o in ops if o.kind == kind)
                         - statistics.median(untraced))
    return out, len(records)


def run(args, work: str) -> dict:
    t_start = time.perf_counter()
    tr = trace.Tracer(enabled=False)
    rec: dict = {"workload": args.workload, "seed": args.seed, "k": CORES,
                 "nproc": os.cpu_count(), "trace": args.trace, "source": source_digest(),
                 "loadavg_before": loadavg(), "steal_s": -steal_s()}
    cls = WORKLOADS[args.workload]
    corpus = gen.generate(os.path.join(work, "pages"), PAGES[args.workload], args.seed,
                          with_text=cls.with_text)
    warm_corpus = gen.generate(os.path.join(work, "warm"), WARMUP_PAGES, args.seed + 1,
                               with_text=cls.with_text, files=CORES)
    wl = cls(work, corpus, tr)
    # the warm-up's jobs belong to the enclosing session.build_session span
    warm = WORKLOADS["parse_mixed"](work, warm_corpus, trace.Tracer(enabled=False))
    rec["corpus"] = {"pages": corpus.n_pages, "input_bytes": corpus.input_bytes,
                     "triples": corpus.triples, "errors_by_stage": corpus.errors_by_stage,
                     "components": corpus.components, "formats": corpus.formats}
    phases = rec["phases_s"] = {"generate": time.perf_counter()}
    sess = Session(work)
    try:
        # a traced run is an untraced run with spans and the event log on,
        # so its layers see the same cold start
        tr.enabled = bool(args.trace)
        setup_s, warm_op, rec["session_start_s"] = setup(sess, warm, tr.enabled, tr)
        phases["setup"] = time.perf_counter()
        tr.phase = "prepare"
        untimed = wl.prepare(sess.spark)
        phases["prepare"] = time.perf_counter()
        tr.phase = "timed"
        ops = wl.run(sess.spark, args.seconds)
        phases["loop"] = time.perf_counter()
        if args.trace:
            rec["sublayers"] = sublayers.measure(os.path.join(work, "sample"))
            app_id = sess.spark.sparkContext.applicationId
    finally:
        sess.close()
    phases["close"] = time.perf_counter()
    t_prev = t_start
    for k, t in phases.items():
        phases[k], t_prev = round(t - t_prev, 3), t

    # every checked operation, untimed ones and the warm-up included
    checked = [warm_op, *untimed, *ops]
    queries_run = [o for o in ops if o.kind == "query"]
    failed_ops = [o for o in checked if not o.ok and not o.known_defect]
    rec.update({
        "setup_s": setup_s, "op_walls_s": [(o.kind, o.wall_s) for o in ops],
        # pages with an unexpected outcome, over every checking pass, and
        # operations that failed or answered wrong
        "failed_op_ratio": (len(wl.mismatched) + sum(not o.ok for o in checked))
                           / (wl.pages_checked + len(checked)),
        "mismatched_pages": wl.mismatched[:20],
        "failed_ops": [o.info for o in failed_ops][:20],
        "known_defects": {
            shape: {"why": why,
                    "wrong": sum(o.known_defect for o in queries_run
                                 if o.info["shape"] == shape),
                    "of": sum(o.info["shape"] == shape for o in queries_run),
                    "first": next(o.info for o in queries_run if o.info["shape"] == shape)}
            for shape, why in queries.KNOWN_DEFECTS.items() if queries_run},
        "attempted": len(checked),
        "failed": len(failed_ops),
        "ops_info": [o.info for o in ops][:40],
    })
    rec["metrics"], tail_info = end_to_end(ops, corpus.triples, setup_s)
    rec.update(tail_info)
    if args.trace:
        trace.fold_event_log(tr.spans, sess.event_dir, app_id, tr.run_id)
        # coverage of the run wall (setup, untimed preparation and timed
        # operations) by the listed layers' self times; the rest is the
        # benchmark's own checks and glue
        selfs = trace.self_times(tr.spans)
        rec["self_s"] = {}
        for s in tr.spans:
            if s["name"] in SPANS:
                rec["self_s"][s["name"]] = rec["self_s"].get(s["name"], 0) + selfs[s["id"]]
        rec["run_wall_s"] = phases["setup"] + phases["prepare"] + phases["loop"]
        rec["self_coverage"] = sum(rec["self_s"].values()) / rec["run_wall_s"]
        rec["tracing_overhead_s"], rec["untraced_records"] = overhead(
            args.workload, rec["source"], ops)
        rec["metrics"] = per_layer(corpus, ops, tr, rec["sublayers"])
        rec["metrics"]["failed_op_ratio"] = rec["failed_op_ratio"]
        rec["spans"] = tr.spans
    rec["loadavg_after"] = loadavg()
    rec["steal_s"] += steal_s()
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temporary file of this process and of the JVMs it starts
    # (the Spark launcher's too) inside the work directory
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    try:
        rec = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in declared if m["name"] not in rec["metrics"]]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    dump = os.path.join(WORK, "results",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(dump, "w") as f:
        json.dump(rec, f, indent=1, default=str)

    print(f"workload={args.workload} seed={args.seed} k={rec['k']} nproc={rec['nproc']} "
          f"trace={args.trace} loadavg_before={rec['loadavg_before']} "
          f"loadavg_after={rec['loadavg_after']} cpu_steal_s={rec['steal_s']:.2f} "
          f"record={os.path.relpath(dump, ROOT)}")
    for m in declared:
        print(f"{m['name']} = {rec['metrics'][m['name']]:.6g} {m['unit']}")
    print(f"failed_op_ratio = {rec['failed_op_ratio']:.6g} ratio "
          f"(attempted={rec['attempted']} failed={rec['failed']})")
    print(f"query_tail_ms is p{rec['tail_percentile']} of {rec['samples']} samples")
    for shape, d in rec["known_defects"].items():
        print(f"KNOWN DEFECT {shape}: wrong in {d['wrong']} of {d['of']} queries "
              f"({d['why']}); first: {d['first']}")
    if args.trace:
        print(f"tracing overhead, traced minus untraced median wall per operation, against "
              f"{rec['untraced_records']} untraced run records: "
              + (", ".join(f"{k} {v:+.4g} s" for k, v in rec["tracing_overhead_s"].items())
                 or "n/a until an untraced run has been recorded"))
        ph = rec["phases_s"]
        print(f"listed layers' self time covers {rec['self_coverage']:.1%} of the "
              f"{rec['run_wall_s']:.4g} s run wall (setup, untimed preparation, timed "
              "operations): " + ", ".join(f"{k} {v:.3g}s" for k, v in sorted(rec["self_s"].items()))
              + f"; outside the run wall: input generation {ph['generate']} s, "
              f"sub-layer timing and session stop {ph['close']} s")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": rec["metrics"][m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
