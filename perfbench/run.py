"""End-to-end benchmark of gaoya_spark on seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload images_pipeline --seed 1 --seconds 10 --trace 0

--trace 0 runs the workload untouched and prints the end-to-end metrics.
--trace 1 runs the same units of work, wraps the public functions of every
layer in spans (tracing.py) during one of them, enables Spark's event log,
and prints the per-layer metrics; the spans go to
.perfbench/traces/<workload>-seed<seed>.json. --size changes the input size
(images per job, or images per micro-batch) and --smoke picks a tiny one.

Which units run, and which are timed, is fixed per workload (Workload.plan),
so a seed always does the same work and yields the same output counts. The
counts must repeat across the units of a run that repeat one job, and match
perfbench/expect.json where it holds the seed, size and trace flag
(--record-expect adds a run that passed every other check).

The last line of stdout is one JSON object: correct, attempted, failed and
metrics ({name: {value, unit}}). The line before it carries the run's facts
(cores, RAM, versions, seed, latencies, failed_frac, dedup routes).
Everything the run writes stays under .perfbench/ in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(ROOT, ".perfbench")
EXPECT = os.path.join(HERE, "expect.json")
SETUP_REPS = 3
SMOKE_SIZE = {"images_pipeline": 200, "images_stream": 25}
# no unit starts this long after launch, so a run ends inside 180 s
UNIT_DEADLINE_S = 120.0
# the stages DedupPipeline runs with use_substring=True
STAGES = ("minhash_signatures", "minhash_edges", "simhash_signatures",
          "simhash_edges", "substring_edges", "edges", "labels", "clusters")
LAYERS = ("signatures", "candidates", "verify", "query", "simhash",
          "substring", "cc", "warehouse", "pipeline", "streaming")


# ------------------------------------------------------------------ machine
def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    ram_mb = ram_kb // 1024
    # a quarter of physical RAM, within 1-4 GiB: the box is shared
    driver_mb = max(1024, min(4096, ram_mb // 4))
    return {"cores": cores, "ram_mb": ram_mb, "driver_memory_mb": driver_mb}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self.peak, self._stop_ev = period, 0, threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        return out

    def sample(self) -> None:
        total = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_ev.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)
        self.sample()


# -------------------------------------------------------------------- spark
def start_spark(mach: dict, work: str, trace: bool):
    from gaoya_spark.session import get_spark

    extra = {
        "spark.driver.memory": f"{mach['driver_memory_mb']}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # the JVM inherits fd 1: point it at stderr while launching so nothing
    # it or its Python workers print can land after the result line
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        return get_spark("perfbench", cores=mach["cores"], extra=extra)
    finally:
        os.dup2(saved, 1)
        os.close(saved)


def stop_spark(spark) -> None:
    """Stop the context, close the gateway and wait for the JVM (and with
    it the Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ metrics
def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 11 samples no percentile qualifies and the slowest is used."""
    s = sorted(values)
    return s[-1] if len(s) < 11 else s[len(s) - 11]


def end_to_end(setup_s: float, lat: list[float], rows: list[int], recall: float) -> dict:
    """On a batch workload a "batch" is the whole job."""
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(rows) / sum(lat) if lat else 0.0, "rows/s"),
        "batch_latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "batch_latency_tail_s": (tail(lat) if lat else 0.0, "s"),
        "dup_pair_recall": (recall, "ratio"),
    }


def per_layer(tracer, events: dict, counters: dict, cores: int, session_s: float,
              traced_s: float, untraced_s: float, peak_rss: int) -> dict:
    """Per-layer metrics of the run's one traced unit."""
    spans, selfs = tracer.spans, tracer.self_times()
    ev0 = {"run_ms": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
           "output_bytes": 0, "failed_tasks": 0}
    by_layer: dict[str, dict] = {}
    for s in spans:
        L = by_layer.setdefault(s["layer"], {"self": 0.0, **ev0})
        L["self"] += selfs[s["id"]]
        for k in ev0:
            L[k] += events.get(s["id"], {}).get(k, 0)

    def layer(name, key="self"):
        return by_layer.get(name, {}).get(key, 0)

    def rows(span_name):
        return sum(s["counters"].get("rows", 0) for s in spans if s["name"] == span_name)

    def nodes(span_name, node):
        return sum(s.get("plan", {}).get("nodes", {}).get(node, 0)
                   for s in spans if s["name"] == span_name)

    def total(span_name, under=None):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == span_name
                   and (under is None or (s["parent"] is not None
                                          and spans[s["parent"]]["name"] == under)))

    def self_of(span_name):
        return sum(selfs[s["id"]] for s in spans if s["name"] == span_name)

    sig_rows = rows("minhash.signatures") + rows("simhash.signatures")
    cand = rows("sid_candidates")
    # precision counts only the dedup calls that produced a candidate set
    verified = sum(s["counters"].get("rows", 0) for s in spans
                   if s["name"] == "minhash.dedup_pairs"
                   and any(c["parent"] == s["id"] and c["name"] == "sid_candidates"
                           for c in spans))
    flow = total("flow")
    m = {
        "session.start_s": (session_s, "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "signatures.wall_s": (layer("signatures"), "s"),
        "signatures.rows_per_s": (sig_rows / layer("signatures") if layer("signatures") else 0.0, "rows/s"),
        "candidates.wall_s": (layer("candidates"), "s"),
        "candidates.count": (cand, "count"),
        "candidates.shuffle_bytes": (layer("candidates", "shuffle_write_bytes"), "bytes"),
        "buckets.hot": (counters.get("buckets.hot", 0), "count"),
        "buckets.dropped": (counters.get("buckets.dropped", 0), "count"),
        "verify.wall_s": (layer("verify"), "s"),
        "verify.pairs_out": (rows("minhash.dedup_pairs"), "count"),
        "verify.precision": (verified / cand if cand else 0.0, "ratio"),
        "verify.shuffle_bytes": (layer("verify", "shuffle_write_bytes"), "bytes"),
        "verify.spill_bytes": (layer("verify", "spill_bytes"), "bytes"),
        "verify.smj_joins": (nodes("minhash.dedup_pairs", "SortMergeJoin"), "count"),
        "verify.bhj_joins": (nodes("minhash.dedup_pairs", "BroadcastHashJoin"), "count"),
        "query.wall_s": (layer("query"), "s"),
        "query.candidates": (rows("query.candidates"), "count"),
        "query.matches": (rows("query"), "count"),
        "query.smj_joins": (nodes("query", "SortMergeJoin"), "count"),
        "simhash.wall_s": (layer("simhash"), "s"),
        "simhash.pairs_out": (rows("simhash.dedup_pairs"), "count"),
        "substring.wall_s": (layer("substring"), "s"),
        "substring.pairs_out": (rows("substring_pairs"), "count"),
        "cc.wall_s": (layer("cc"), "s"),
        "cc.iterations": (counters.get("cc.iterations", 0), "count"),
        "cc.edges_in": (counters.get("cc.edges_in", 0), "count"),
        "cc.components": (counters.get("cc.components", 0), "count"),
        "cc.shuffle_bytes": (layer("cc", "shuffle_write_bytes"), "bytes"),
        "warehouse.write_s": (self_of("warehouse.write"), "s"),
        "warehouse.bytes_written": (layer("warehouse", "output_bytes"), "bytes"),
        "warehouse.files": (counters.get("warehouse.files", 0), "count"),
        "warehouse.compact_s": (self_of("warehouse.compact"), "s"),
        "stream.in_batch_dedup_s": (total("minhash.dedup_pairs", under="process_batch"), "s"),
        "stream.index_rows": (counters.get("stream.index_rows", 0), "count"),
        "stream.index_files": (counters.get("stream.index_files", 0), "count"),
        "trace.traced_s": (traced_s, "s"),
        "trace.untraced_s": (untraced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
        # the self time of the flow span is the part no layer span covers
        "trace.attributed_frac": ((flow - layer("flow")) / flow if flow else 0.0, "ratio"),
        "trace.failed_tasks": (sum(v["failed_tasks"] for v in by_layer.values()), "count"),
    }
    for st in STAGES:
        m[f"stage.{st}.wall_s"] = (total(f"stage.{st}"), "s")
        m[f"stage.{st}.rows"] = (counters.get(f"stage.{st}.rows", 0), "count")
    for name in LAYERS:
        busy = layer(name, "run_ms") / 1000.0
        m[f"{name}.busy_frac"] = (busy / (layer(name) * cores) if layer(name) else 0.0, "ratio")
    return m


def routes(tracer) -> list[dict]:
    """The dedup_pairs route of each traced call, read off its runtime plan:
    a candidate set or joins mean the JVM verify; MapInPandas kernels with
    neither mean the numpy broadcast verify."""
    out = []
    for s in tracer.spans:
        if s["name"] != "minhash.dedup_pairs":
            continue
        plan = s.get("plan", {})
        n = plan.get("nodes", {})
        joins = sum(n.get(k, 0) for k in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
        has_cand = any(c["parent"] == s["id"] and c["name"] == "sid_candidates" for c in tracer.spans)
        kind = "jvm_join_verify" if joins or has_cand else "numpy_kernel"
        out.append({"span": s["id"], "run_id": s["run_id"], "route": kind, "nodes": n,
                    "python_fns": sorted(set(plan.get("python_fns", [])))})
    return out


# ------------------------------------------------------------------- expect
def check_outputs(outs: list[dict], repeats: bool) -> tuple[dict, int, list[str]]:
    """Recall and threshold checks of every unit; with `repeats`, every unit
    ran the same job and its counts must equal the first unit's. Returns the
    run's counts, the number of checks made and the failures."""
    bad, record, checks = [], {}, 0
    for i, o in enumerate(outs):
        if "recall" in o:
            checks += 1
            if o["recall"] < 0.99:
                bad.append(f"output {i}: dup_pair_recall {o['recall']:.4f} < 0.99")
        if "false_positives" in o:
            checks += 1
            if o["false_positives"]:
                bad.append(f"output {i}: {o['false_positives']} pairs fail the threshold")
        rec = o.get("record")
        if not rec:
            continue
        if repeats and record:
            checks += 1
            if rec != record:
                bad.append(f"output {i}: counts {rec} != {record} of the first unit")
        else:
            record.update(rec)
    return record, checks, bad


def expect_key(workload: str, seed: int, size: int, trace: int) -> str:
    # a traced run may ingest more batches than an untraced one
    return f"{workload}/size{size}/seed{seed}/trace{trace}"


def check_expect(key: str, record: dict) -> list[str]:
    """Counts must repeat exactly across runs of one seed: compare with the
    counts expect.json holds for it, if any."""
    with open(EXPECT) as f:
        want = json.load(f).get(key)
    if want is None or want == record:
        return []
    return [f"counts {record} != {want} recorded for {key}"]


def record_expect(key: str, record: dict) -> None:
    with open(EXPECT) as f:
        doc = json.load(f)
    doc[key] = record
    with open(EXPECT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")


# --------------------------------------------------------------------- main
def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, help="input size (sizing runs)")
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    p.add_argument("--record-expect", action="store_true",
                   help="store this run's counts in expect.json if it passed")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_launch = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "gaoya_spark")):
        print(f"perfbench: no gaoya_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    if args.smoke:
        args.size = SMOKE_SIZE.get(args.workload)

    mach = machine()
    work = os.path.join(OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "events", "input"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # before numpy and the JVM load: BLAS in the driver and in the Python
    # workers runs one thread per task
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + path),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS  # needs ROOT on sys.path

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    rss = RssSampler()
    rss.start()
    spark, m, session_s = None, None, 0.0
    try:
        t0 = time.perf_counter()
        spark = start_spark(mach, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        m = measure(spark, args, mach, work, t_launch)
    except Exception:
        traceback.print_exc()
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    if m is None:
        # the session or the workload's construction failed: one attempted
        # operation, failed
        m = {"info": {"failures": ["session or workload failed to start"]},
             "attempted": 1, "failed": 1, "setup_reps": [], "lat": [], "rows": [],
             "recall": 0.0, "tracer": None, "counters": {}, "traced_s": 0.0,
             "untraced_s": 0.0}
    try:
        info = m["info"]
        info.update(session_start_s=session_s, peak_rss_mb=rss.peak / 2**20)
        if args.trace:
            from tracing import Tracer, parse_event_log

            ev_dir = os.path.join(work, "events")
            events = {}
            for name in os.listdir(ev_dir):
                events.update(parse_event_log(os.path.join(ev_dir, name)))
            tr = m["tracer"] or Tracer(None)
            metrics = per_layer(tr, events, m["counters"], mach["cores"], session_s,
                                m["traced_s"], m["untraced_s"], rss.peak)
            write_trace(args, info, tr, events, metrics)
        else:
            setup = statistics.median(m["setup_reps"]) if m["setup_reps"] else 0.0
            metrics = end_to_end(session_s + setup, m["lat"], m["rows"], m["recall"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": m["failed"] == 0, "attempted": m["attempted"], "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"run_info": info}))
    print(json.dumps(result))
    return 0


def write_trace(args, info, tracer, events, metrics) -> None:
    d = os.path.join(OUT_DIR, "traces")
    os.makedirs(d, exist_ok=True)
    selfs = tracer.self_times()
    doc = {
        "run_info": info,
        "spans": [{**s, "self_s": selfs[s["id"]], "spark": events.get(s["id"], {})}
                  for s in tracer.to_json()],
        "metrics": metrics,
    }
    with open(os.path.join(d, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(doc, f, indent=1)


def measure(spark, args, mach, work, t_launch) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from tracing import Tracer
    from workloads import TRACE_TARGETS, WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed, mach["cores"], args.size)
    failures: list[str] = []
    attempted = 1

    # set-up: input generation + load (+ index seeding), repeated; the
    # session start before it is timed once, by the caller
    reps, prints = [], []
    try:
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(r)
            reps.append(time.perf_counter() - t0)
            prints.append(wl.fingerprint())
        if len(set(prints)) != 1:
            failures.append(f"inputs differ across set-up repeats of seed {args.seed}")
    except Exception:
        traceback.print_exc()
        failures.append("set-up raised")

    # The plan names each unit's role: "time" units give the end-to-end
    # latencies; a traced run has one "trace" unit, and its "ref" units are
    # the untraced reference for the tracing overhead. A plan ending in
    # "time+" repeats its last unit until --seconds have been measured.
    plan = wl.plan(bool(args.trace))
    tracer = Tracer(spark) if args.trace else None
    lat, rows, outs, ref, traced_s = [], [], [], [], 0.0
    t_measure = time.perf_counter()
    i = 0
    while not failures:
        role = plan[min(i, len(plan) - 1)]
        if role == "time+":
            if i >= len(plan) and time.perf_counter() - t_measure >= args.seconds:
                break
            role = "time"
        elif i >= len(plan):
            break
        if time.perf_counter() - t_launch > UNIT_DEADLINE_S:
            if i < len(plan):
                # the planned unit that did not run counts as failed
                attempted += 1
                failures.append(f"stopped at the deadline after {i} units")
            break
        attempted += 1
        try:
            wl.prepare(i)
            t0 = time.perf_counter()
            if role == "trace":
                tracer.run_id = f"unit{i}"
                tracer.install(TRACE_TARGETS)
                try:
                    with tracer.span("flow", "flow"):
                        n = wl.unit(i)
                finally:
                    tracer.uninstall()
            else:
                n = wl.unit(i)
            dt = time.perf_counter() - t0
            outs.append(wl.outputs(i))
        except Exception:
            traceback.print_exc()
            failures.append(f"unit {i} raised")
            break
        if role == "trace":
            traced_s = dt
            tracer.release()
        elif role == "ref":
            ref.append(dt)
        elif role == "time":
            lat.append(dt)
            rows.append(n)
        i += 1
    counters = {}
    if not failures:
        attempted += 1
        try:
            outs.append(wl.final_outputs())
            if tracer is not None:
                counters = wl.counters()
        except Exception:
            traceback.print_exc()
            failures.append("final outputs raised")

    record, checks, bad = check_outputs(outs, wl.repeats)
    attempted += checks
    failures += bad
    key = expect_key(args.workload, args.seed, wl.size, args.trace)
    if record:
        attempted += 1
        failures += check_expect(key, record)
    if args.record_expect and not failures:
        record_expect(key, record)
    for f in failures:
        print("perfbench: check failed: " + f, file=sys.stderr)
    recalls = [o["recall"] for o in outs if "recall" in o]
    counters["cc.components"] = record.get("components", 0)
    info = {
        "workload": args.workload, "seed": args.seed, "size": wl.size,
        "trace": args.trace, **mach,
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "python": sys.version.split()[0],
        "units": len(lat), "latencies_s": lat, "traced_s": traced_s, "ref_s": ref,
        "setup_reps_s": reps, "record": record,
        "failed_frac": len(failures) / attempted, "failures": failures,
    }
    if tracer is not None:
        info["dedup_routes"] = routes(tracer)
    return {
        "info": info, "attempted": attempted, "failed": len(failures),
        "setup_reps": reps, "lat": lat, "rows": rows,
        "recall": min(recalls) if recalls else 0.0,
        "tracer": tracer, "counters": counters,
        "traced_s": traced_s, "untraced_s": statistics.median(ref) if ref else 0.0,
    }


if __name__ == "__main__":
    sys.exit(main())
