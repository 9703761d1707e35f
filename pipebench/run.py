#!/usr/bin/env python3
"""Pipeline benchmark: one workload, closed loop, one process.

    python3 pipebench/run.py --workload bulk_flat --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
the seed, starts one Spark session on ``local[$(nproc)]``, warms up
with a fixed count of full-size ops, then times ops for
``--seconds`` (``resume_small``: a fixed count of increments).  Every
op is checked against an independent oracle.  Untraced, each op runs
right after a fixed reference job (``reference.py``), and op time is
reported in units of it as well as in seconds.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics.  See ``pipebench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import subprocess
import sys
import time
import traceback

import layertrace
import probes
import reference
import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIN_TIMED_OPS = 4


def pin_environment(work: str, trace: bool) -> None:
    """Fix every host-derived session default, so two runs on one host
    get the same session whatever /dev/shm or RAM look like."""
    cpus = len(os.sched_getaffinity(0))
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    for var in ("SPARK_GRAFT_MASTER", "SPARK_TASK_CPUS", "SPARK_ARROW_BATCH",
                "SPARK_GRAFT_WARMUP_ROWS", "SPARK_CONF_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local_dir,
        SPARK_DRIVER_MEMORY="2g",
        SPARK_SHUFFLE_PARTITIONS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        # HotSpot's perf-data file goes to /tmp whatever java.io.tmpdir says.
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false"]
    else:
        conf.append("spark.eventLog.enabled=false")
    args = [a for c in conf for a in ("--conf", c)]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms2g", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the ppid in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of every process this one started: the
    Spark JVM and its Python workers."""
    kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it and
    the Python workers it started have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_op(wl, spark, i: int, warm: bool, slot: int, ref=None) -> dict:
    """One op, after one reference job when ``ref`` is given; an
    exception or an oracle mismatch marks it failed."""
    ref_s = None
    try:
        if ref:
            ref_s = ref()
        r = wl.op(spark, i, warm, slot)
    except Exception:
        log(f"op {i} raised:\n{traceback.format_exc()}")
        return {"i": i, "ok": False, "ref_s": ref_s}
    if r["bad"]:
        log(f"op {i} failed the oracle: {'; '.join(r['bad'])}")
    log(f"  {'warm-up' if warm else 'timed'} op {i}: {r['s']:.3f} s, {r['turns']} turns"
        + (f", reference {ref_s:.3f} s" if ref else ""))
    return {"i": i, "ok": not r["bad"], "ref_s": ref_s, **r}


def traced_layers(spark, wl, tracer, timed: list[dict], work: str) -> dict:
    """Per-layer metrics that need the live session: span figures over
    the timed ops that ran with spans on, the stage probes, and the
    streaming figures from one drain of the probe input."""
    layers = probes.span_metrics(tracer.spans, {r["i"] for r in timed if r["spans"]})
    layers["trace.overhead_s"] = stats.block_overhead({r["n"]: r["s"] for r in timed})
    layers.update(probes.stage_metrics(spark, tracer, wl.probe_input, work))
    out, ckpt = os.path.join(work, "probe-out"), os.path.join(work, "probe-ckpt")
    with layertrace.span(tracer, "probe.stream"):
        query = workloads.drain(spark, tracer, wl.probe_input, out, ckpt)
    bad = workloads.check_stream(query, out, wl.probe_expected)
    if bad:
        raise RuntimeError(f"stream probe failed the oracle: {'; '.join(bad)}")
    layers.update(probes.stream_metrics(query.recentProgress))
    for s in ("metrics", "events", "traces"):
        layers[f"route.rows.{s}"] = stats.median([r["got"][s] for r in timed])
    return layers


def warm_up(wl, spark, ref) -> list[dict]:
    """A fixed count of full-size ops, discarded."""
    return [run_op(wl, spark, n, True, n, ref) for n in range(wl.warmup_ops)]


def measure(wl, spark, seconds: int, first: int, tracer, ref) -> list[dict]:
    """The timed ops: a fixed count when the workload sets one, else
    whole cycles over its inputs for ``seconds`` and at least
    MIN_TIMED_OPS.  A traced run goes in blocks of four ops, spans
    on-off-off-on, and runs each input twice in a row (once with spans,
    once without), so it needs twice the ops."""
    per_slot = 2 if tracer else 1
    min_ops = per_slot * MIN_TIMED_OPS
    step = math.lcm(4, per_slot * wl.cycle) if tracer else wl.cycle
    results = []
    t0 = time.perf_counter()
    while True:
        n = len(results)
        if wl.fixed_ops is not None:
            if n >= wl.fixed_ops:
                break
        elif n >= min_ops and n % step == 0 and time.perf_counter() - t0 >= seconds:
            break
        if tracer:
            tracer.enabled = stats.spans_on(n)
        results.append({**run_op(wl, spark, first + n, False, n // per_slot, ref),
                        "n": n, "spans": bool(tracer and tracer.enabled)})
    if tracer:
        tracer.enabled = True
    return results


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sparkcollector", "__init__.py")):
        print(f"no sparkcollector package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    # Keep stdout for the summary: everything else this process and the
    # JVM it launches print goes to stderr.
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    work = os.path.join(ROOT, ".pipebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        pin_environment(work, bool(args.trace))
        load1 = os.getloadavg()[0]
        jiffies0, steal0 = cpu_jiffies()
        tracer = layertrace.Tracer() if args.trace else None
        wl = workloads.WORKLOADS[args.workload](work, args.seed, tracer)

        t = time.perf_counter()
        wl.generate()
        ref_input = os.path.join(work, "ref-in")
        if not tracer:
            reference.generate(ref_input, wl.ref_rows)
        gen_s = time.perf_counter() - t

        from sparkcollector.session import get_spark

        if tracer:
            layertrace.instrument(tracer)
        t_setup = time.perf_counter()
        with layertrace.span(tracer, "session.start"):
            spark = get_spark(app_name=f"pipebench-{args.workload}")
        session_start_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup(spark)
        # Untraced ops each run after a reference job (reference.py);
        # the traced run reports no end-to-end metric and skips it.
        ref = None if tracer else (lambda: reference.run(
            spark, ref_input, wl.ref_rows, os.path.join(work, "ref-out")))
        warm = warm_up(wl, spark, ref)
        # The reference jobs run during warm-up are not the program's set-up.
        setup_s = time.perf_counter() - t_setup - sum(r["ref_s"] or 0 for r in warm)

        results = warm + measure(wl, spark, args.seconds, len(warm), tracer, ref)
        timed = [r for r in results[len(warm):] if r["ok"]]
        rss = peak_rss_mb()
        if tracer:
            layers = traced_layers(spark, wl, tracer, timed, work)
        stop_spark(spark)
        spark = None
        jiffies1, steal1 = cpu_jiffies()

        attempted, failed = len(results), sum(not r["ok"] for r in results)
        op_s = [r["s"] for r in timed]
        if not op_s:
            log("no timed op succeeded")
            return 1
        turns = sum(r["turns"] for r in timed)
        raw = {
            "turns_per_s": turns / sum(op_s),
            "op_s.p50": stats.median(op_s),
        }
        e2e = {"setup_s": (setup_s, "s")}
        if not tracer:
            ref_s = [r["ref_s"] for r in timed]
            per_ref, op_ref = stats.in_ref_units(op_s, ref_s, [r["turns"] for r in timed])
            raw["ref_s.p50"] = stats.median(ref_s)
            e2e["turns_per_ref"] = (per_ref, "1/ref")
            e2e["op_ref.p50"] = (op_ref, "ref")
        e2e["peak_rss_mb"] = (rss, "MB")
        tail = stats.tail_percentile(len(op_s))
        print(
            f"{args.workload} seed={args.seed}: "
            + " ".join(f"{k}={v:.4g}" for k, (v, _) in e2e.items())
            + " " + " ".join(f"{k}={v:.4g}" for k, v in raw.items())
            + f" op_s.n={len(op_s)}"
            + (f" op_s.p{tail:g}={stats.percentile(op_s, tail):.4g}" if tail else "")
            + f" failed_frac={stats.failed_frac(attempted, failed):.4g}"
            + f" | warm-up ops={len(warm)}"
            f" session_start_s={session_start_s:.3f}"
            f" gen_s={gen_s:.3f}"
            f" steal_frac={(steal1 - steal0) / max(1, jiffies1 - jiffies0):.4f}"
            f" load1={load1:.2f}",
            file=stdout,
        )
        if tracer:
            events = layertrace.read_event_log(os.path.join(work, "eventlog"))
            totals = layertrace.task_totals(events, [r["window"] for r in timed])
            layers["shuffle.bytes_written"] = stats.median([w["shuffle_bytes"] for w in totals])
            layers["parse.python_s"] = stats.median([w["python_s"] for w in totals])
            layers["session.start_s"] = session_start_s
            out_dir = os.path.join(ROOT, ".pipebench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            print(" ".join(f"{k}={v:.4g}" for k, v in sorted(layers.items())), file=stdout)
            metrics = {k: {"value": v, "unit": probes.unit(k)}
                       for k, v in sorted(layers.items()) if k not in probes.ANNOTATIONS}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), file=stdout, flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
