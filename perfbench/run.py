"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One driver process runs the workload
closed-loop on local[nproc]: the next operation is submitted when the
previous one has completed. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` makes a separate traced run (Spark event log on,
spans around the program's public functions) and prints the per-layer
metrics. Progress and the host record go to stderr; the last stdout
line is the result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def timed(wl, spark, seconds: float, ref, tracer=None) -> list[dict]:
    """Closed loop: run ``wl.op`` until ``seconds`` have passed and at
    least ``wl.min_reps`` ops ran; check each output (untimed).

    With a ``tracer``, every op runs twice in a row, once without and
    once inside the spans, which of the two goes first alternating, so
    both sides see the same warm-up state; records carry ``traced``."""
    from perfbench import spans

    recs = []
    sides = ((False, True), (True, False)) if tracer else ((False,),)
    t_end = time.perf_counter() + seconds
    # traced: at least two pairs, so each side runs first once
    min_recs = max(wl.min_reps, 2) * 2 if tracer else wl.min_reps
    while len(recs) < min_recs or time.perf_counter() < t_end:
        key = wl.next_key()
        for traced in sides[len(recs) // len(sides[0]) % len(sides)]:
            wl.prepare()
            t0 = time.perf_counter()
            out, err = None, None
            try:
                if traced:
                    with spans.patched(tracer), tracer.span("op" if key is None else f"op.{key}"):
                        out = wl.op(spark, key, tracer)
                else:
                    out = wl.op(spark, key)
            except Exception as e:  # a failed op is counted, not fatal
                err = e
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            ok = err is None and wl.check(spark, key, out, ref)
            recs.append({"dt": wl.op_seconds(dt, out), "ok": ok, "key": key, "traced": traced,
                         "persisted_left": release(spark)})
            if err is None:
                wl.record(recs[-1], out)
    return recs


def release(spark) -> int:
    """Unpersist whatever an op left cached, so it cannot change the
    next op's memory; returns how many RDDs that was."""
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = int(left.size())
    for rdd in list(left.values()):
        rdd.unpersist(False)
    spark.catalog.clearCache()
    return n


def per_pass(recs: list[dict], field: str = "dt") -> float:
    """Median of ``field`` over the ops; with several op kinds (the
    query mix), the sum of each kind's median."""
    by_key: dict = {}
    for r in recs:
        by_key.setdefault(r["key"], []).append(r[field])
    return sum(statistics.median(v) for v in by_key.values())


def traced_metrics(wl, sess, spark, tracer, recs) -> dict:
    """Per-layer metrics of a traced run; ``recs`` are its ops.

    Besides the spans inside the ops, the run times each layer's
    pipeline cut into a noop sink three times (root spans
    ``prefix.<layer>``) and, where the workload has a PiP join, runs it
    once more (root span ``candidates``) with predicate push-down
    excluded, so the refine stays a Filter above the equi-join and the
    plan reports both row counts."""
    from perfbench import eventlog, micro, spans, spec

    sc = spark.sparkContext
    for name, df in wl.prefixes(spark):
        for _ in range(3):
            with tracer.span(f"prefix.{name}"):
                df.write.format("noop").mode("overwrite").save()
    candidates = None
    if hasattr(wl, "candidates_job"):
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates,"
            "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin",
        )
        try:
            with tracer.span("candidates") as candidates:
                wl.candidates_job(spark)
        finally:
            spark.conf.unset("spark.sql.optimizer.excludedRules")
    extra = wl.traced_extra(spark, [r for r in recs if r["traced"]])
    extra.update(micro.codec())
    extra.update(micro.expressions(spark))
    app_id = sc.applicationId
    sess.stop()  # flushes the event log
    log = eventlog.parse(eventlog.find_app_log(sess.work.events, app_id))
    layers = spans.layer_table(tracer.spans, log)
    if candidates is not None:
        extra["operators.joins.pip_join.candidates_per_match"] = spans.candidates_per_match(log, candidates.id)
    roots = [v for k, v in layers.items() if k == "op" or k.startswith("op.")]
    extra["trace_overhead_s"] = (per_pass([r for r in recs if r["traced"]])
                                 - per_pass([r for r in recs if not r["traced"]]))
    for total in ("stages", "tasks", "executor_cpu_s", "gc_s"):
        extra[total] = sum(r[total] for r in roots)
    extra["persisted_left"] = per_pass(recs, "persisted_left")
    metrics = {}
    for name, unit in spec.per_layer().items():
        span, _, suffix = name.rpartition(".")
        cut = layers.get(f"prefix.{span}")
        if name in extra:
            value = extra[name]
        elif cut is not None and suffix == "prefix_s":
            value = cut["call_s"]
        elif cut is not None and suffix in spec.SHUFFLE_SUFFIXES:
            # a lazy call's own jobs are only its eager actions; its
            # shuffle is where the cut after it executes
            value = cut[suffix]
        else:
            value = layers.get(span, {}).get(suffix, 0.0)
        metrics[name] = {"value": float(value), "unit": unit}
    with open(os.path.join(sess.work.out, f"trace_{wl.name}.json"), "w") as fh:
        json.dump({"spans": spans.dump(tracer.spans), "layers": layers}, fh)
    return metrics


def run(args, work) -> dict:
    from perfbench import host, spans, spec
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed)
    info = host.host_info()
    info.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace})
    host.log(f"host {json.dumps(info)}")
    sess = host.Session(work, event_log=bool(args.trace))
    try:
        # the first set-up also starts the JVM and the SparkSession; the
        # median of three is the cost of writing the inputs again and
        # running the warm-up operation in a live session. The reference
        # is computed after the first set-up, so the timed ops directly
        # follow a warm-up op.
        setups, ref = [], None
        for k in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            if k == 0:
                spark = sess.start()
            wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            if k == 0:
                ref = wl.reference(spark)
        host.log(f"setup {setups}")
        tracer = spans.Tracer(spark.sparkContext, f"{wl.name}-{wl.seed}") if args.trace else None
        recs = timed(wl, spark, args.seconds, ref, tracer)
        host.log(f"ops {[round(r['dt'], 3) for r in recs]}")
        if args.trace:
            metrics = traced_metrics(wl, sess, spark, tracer, recs)
        else:
            wall = per_pass(recs)
            values = {"setup_s": statistics.median(setups), "wall_s": wall,
                      "rows_per_s": wl.rows / wall, "rss_after_gc_mb": sess.rss_after_gc_mb()}
            metrics = {k: {"value": values[k], "unit": u} for k, u in spec.END_TO_END.items()}
        info["metrics"] = metrics
        with open(os.path.join(work.out, f"run_{args.workload}.json"), "w") as fh:
            json.dump(info, fh, indent=1)
    finally:
        sess.shutdown()
    failed = sum(1 for r in recs if not r["ok"])
    return {"correct": failed == 0, "attempted": len(recs), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "gfp_gdal_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no gfp_gdal_spark/ and __spark_entry__.py under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the repo root, not perfbench/: no shadowed modules
    from perfbench import host
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with host.Work(ROOT) as work:
        result = run(args, work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
