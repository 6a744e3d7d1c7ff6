#!/usr/bin/env python3
"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload validate_table --seed 1 \\
        --seconds 20 --trace 0

Run from the root of a checkout (the directory holding satya_spark/).
The run stages its seeded inputs under ``.perfbench/`` in that root,
starts Spark with at most 4 task slots, runs the workload's untimed
warm iterations (``setup_s`` is process start to their end), then runs
iterations back to back for ``--seconds`` (and at least the workload's
``min_timed`` of them) and checks every output.
The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

* ``setup_s`` — process start to the end of the warm iterations
  (JVM and session start, input staging, cold code generation and JIT;
  validate_table warms with two passes, since its first warm pass
  alone left the next pass 10–20 % slower than later ones);
* ``op_ms_p50`` — median latency of the workload's unit operation: a
  validate→checks→triage pass (validate_table), a clean job
  (clean_corpus), one ``Model(...)`` record (facade_records: the mean
  of the flat and the nested model's medians; the two kinds alternate
  and differ by ~30 %, so a pooled median would fall in the gap
  between them and jump with a single record);
* ``items_per_s`` — rows per second through the workload's bulk path:
  table rows per ``validate --quarantine`` job (validate_table), corpus
  documents per clean job (clean_corpus), dicts per ``validate_batch``
  call (facade_records);
* ``peak_rss_mb`` — peak resident memory of this process plus its JVM,
  read at the end of the timed iterations. Inputs are generated in a
  child process and the output checks (pyarrow, DuckDB) run after the
  reading, so the figure is the program's own footprint.

The line before it starts with ``perfbench:`` and holds the per-step
figures (``validate_rows_per_s``, ``record_ms_p90``, ``failed_frac``
...), sample counts, the notes of any failed operation and
``host_steal_frac``, the share of the machine's CPU time the hypervisor
gave to other guests during the timed window.

With ``--trace 1`` the run also enables Spark's event log, tags each
library call with a job group, runs a layer pass per iteration and
reports the per-layer metrics instead; spans go to
``.perfbench/trace-<workload>-<seed>.json`` together with the
end-to-end figures of the traced run, so ``compare.py overhead`` can
report tracing overhead.

Exit code 0 once a result is printed; 2 when the program is missing
or the arguments are wrong; 3 when a JVM of an earlier run in this
checkout is still alive.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BASE = os.path.join(ROOT, ".perfbench")
MARK = f"-Dperfbench.home={BASE}"
MAX_SLOTS = 4
# a capped heap keeps peak RSS steady run to run (2g gave a similar
# median with a wider spread) and the footprint small on a shared host
DRIVER_MEM = "1g"
# a fixed young generation: G1 sizes it from measured pause times,
# which made the facade's peak RSS swing 810-1030 MB with the host's
# load; fixed, it stays within a few per cent
YOUNG_GEN = "-Xmn256m"


def _jvms_of_this_checkout() -> list:
    """PIDs of live processes started with this checkout's marker."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            continue
        if MARK.encode() in args:
            pids.append(int(d))
    return pids


def _wait_for_no_stale_jvm(timeout: float = 60.0) -> bool:
    deadline = time.monotonic() + timeout
    while _jvms_of_this_checkout():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.5)
    return True


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _configure_spark_env(tmp: str, slots: int, trace: bool) -> None:
    """Everything Spark needs is set before the JVM starts: slot count
    (the CLI's get_spark re-applies shuffle partitions from it), local
    and warehouse dirs inside the run's scratch dir, the marker that
    identifies this checkout's JVMs, and for traced runs the event
    log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")  # py4j connection files
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(tmp, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    java = [MARK, "-Djava.io.tmpdir=" + os.path.join(tmp, "java"), "-XX:-UsePerfData", YOUNG_GEN]
    os.makedirs(os.path.join(tmp, "java"))
    args = ["--driver-java-options", " ".join(java)]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _instrument(tracer) -> None:
    """Traced runs only: wrap the set-up entry points the library calls
    internally (session start, spec compilation, the Model validator
    cache) so each call is a span, without editing the library."""
    import functools

    import satya_spark.__main__  # noqa: F401 - loaded so its references are patched too
    import satya_spark.compat  # noqa: F401
    import satya_spark.engine  # noqa: F401
    from satya_spark import compiler, model, session

    def wrap_everywhere(orig, name, after=None):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                out = orig(*a, **kw)
            if after:
                after(out)
            return out

        for mod in [m for k, m in sys.modules.items() if k.startswith("satya_spark")]:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def bind(spark):
        if tracer.sc is None:
            tracer.sc = spark.sparkContext

    wrap_everywhere(session.get_spark, "session.get_spark", bind)
    wrap_everywhere(compiler.compile_spec, "compiler.compile_spec")
    orig = model.Model.validator.__func__

    def validator(cls, spark=None):
        with tracer.span("model.Model.validator"):
            return orig(cls, spark)

    model.Model.validator = classmethod(validator)


def _cpu_jiffies() -> list:
    """The machine's aggregate CPU counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list, q: float) -> float:
    """Nearest-rank quantile (no interpolation) of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _summarize(name: str, ops: list, rows: int, setup_s: float, rss_mb: float) -> tuple:
    """(end-to-end metrics, per-step details) from the timed ops."""
    by = {}
    for o in ops:
        by.setdefault(o.kind, []).append(o.seconds)
    detail = {"op_s": {k: [round(x, 4) for x in v] for k, v in by.items()}}
    if name == "validate_table":
        passes = [a + b + c for a, b, c in zip(by["validate"], by["checks"], by["triage"])]
        op_s = _median(passes)
        for k in ("validate", "checks", "triage"):
            detail[f"{k}_rows_per_s"] = rows / _median(by[k])
        items_per_s = detail["validate_rows_per_s"]
    elif name == "clean_corpus":
        op_s = _median(by["clean"])
        items_per_s = detail["clean_docs_per_s"] = rows / op_s
    else:
        flat, nested = by["record_flat"], by["record_nested"]
        op_s = (_median(flat) + _median(nested)) / 2
        detail["record_ms_p50"] = op_s * 1e3
        detail["record_ms_p90"] = _quantile(flat + nested, 0.9) * 1e3
        items = sum(o.items for o in ops if o.kind == "batch")
        items_per_s = detail["batch_rows_per_s"] = items / sum(by["batch"])
    failed = sum(not o.ok for o in ops)
    detail["failed_frac"] = failed / max(len(ops), 1)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_ms_p50": {"value": op_s * 1e3, "unit": "ms"},
        "items_per_s": {"value": items_per_s, "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }
    return metrics, detail


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "satya_spark", "__init__.py")):
        print(f"perfbench: no satya_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import spans
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    t_wait = time.monotonic()
    if not _wait_for_no_stale_jvm():
        print(f"perfbench: a JVM of an earlier run is still alive: {_jvms_of_this_checkout()}", file=sys.stderr)
        return 3
    waited_s = time.monotonic() - t_wait  # hygiene, not set-up: excluded from setup_s

    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = os.path.join(BASE, "tmp-" + run_id)
    os.makedirs(tmp)
    trace = bool(args.trace)
    _configure_spark_env(tmp, slots, trace)
    tracer = spans.Tracer(run_id) if trace else spans.NoTracer()
    if trace:
        _instrument(tracer)
    ctx = workloads.Ctx(tmp=tmp, seed=args.seed, tracer=tracer)
    try:
        return _run(args, wl, ctx, tracer, slots, waited_s)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, wl, ctx, tracer, slots, waited_s) -> int:
    import spans
    import workloads
    from pyspark import SparkContext

    from satya_spark import session

    trace = bool(args.trace)
    try:
        parts = {"waited_s": waited_s, "start_s": time.monotonic() - T0}
        wl.setup(ctx)
        parts["staged_s"] = time.monotonic() - T0
        if wl.name != "facade_records":  # the facade starts its own session
            ctx.spark = session.get_spark(app_name="perfbench")
        parts["session_s"] = time.monotonic() - T0
        warm = []
        for _ in range(wl.warm_iterations):  # untimed
            warm += wl.iteration(ctx)
        setup_s = time.monotonic() - T0 - waited_s
        if ctx.spark is None:
            from pyspark.sql import SparkSession

            ctx.spark = SparkSession.getActiveSession()
        if trace:
            tracer.sc = ctx.spark.sparkContext
            wl.layer_pass(ctx)
            tracer.phase = "timed"
        ops, timed = [], 0
        cpu0 = _cpu_jiffies()
        deadline = time.monotonic() + args.seconds
        while timed < wl.min_timed or time.monotonic() < deadline:
            ops += wl.iteration(ctx)
            timed += 1
            if trace:
                wl.layer_pass(ctx)
        cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
        jvm_kb = _vm_hwm_kb(SparkContext._gateway.proc.pid)
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024
        if trace:
            ops += wl.trace_tail(ctx)
        wl.verify(ctx)
        warm_failed = sum(not o.ok for o in warm)
        notes = [o.note for o in warm + ops if not o.ok]
    finally:
        _stop_spark(ctx.spark)

    rows = ctx.state.get("rows", 0)
    metrics, detail = _summarize(wl.name, ops, rows, setup_s, rss_mb)
    failed = sum(not o.ok for o in ops)
    # the share of the timed window the hypervisor gave this machine's
    # CPUs to other guests: host load that the figures above include
    detail["host_steal_frac"] = cpu[7] / max(sum(cpu), 1)
    detail.update(setup_parts=parts, workload=wl.name, seed=args.seed, trace=args.trace, seconds=args.seconds,
                  slots=slots, warm_failed=warm_failed, notes=notes[:10])
    if trace:
        counters = spans.span_counters(tracer.spans, spans.read_event_log(os.path.join(ctx.tmp, "events")))
        # set-up spans count their first (cold) call, all others their
        # calls in the timed iterations
        first = {}
        for c in counters:
            first.setdefault(c["name"], c)
        chosen = [
            c for c, sp in zip(counters, tracer.spans)
            if sp["phase"] == "timed" and c["name"] not in workloads.FIRST_CALL
        ] + [first[n] for n in workloads.FIRST_CALL if n in first]
        ratios = {n: rows for n in workloads.RATIO_SPANS}
        ratios.update(ctx.state.get("ratio_rows", {}))
        layer = spans.per_layer(chosen, workloads.LAYERS, ratios)
        tracer.dump(
            os.path.join(BASE, f"trace-{wl.name}-{args.seed}.json"),
            {"counters": counters, "per_layer": layer, "end_to_end_traced": metrics, "detail": detail},
        )
        detail["end_to_end_traced"] = {k: v["value"] for k, v in metrics.items()}
        metrics = layer
    print("perfbench: " + json.dumps(detail))
    print(json.dumps({"correct": failed == 0 and warm_failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def _stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway, wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a hung JVM is killed, never left behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
