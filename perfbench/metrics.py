"""Metrics of one benchmark run, computed from the JVM's run record.

End-to-end metrics (untraced run) are the ones BENCHMARK.json bounds:
  setup_s      median over the run's set-ups (SparkSession start plus
               the workload's build-once artifacts; the first one is the
               JVM's cold start). The warm-up passes before each timed
               phase are reported as warmup_s beside it.
  op_p50_s     median wall time of the operation a user waits on: one
               incremental poll (medallion_dag), one served batch
               (curation_dedup)
The table printed above the JSON line gives the named metrics of each
workload with their sample counts: throughputs (batch_rows_per_s,
stream_rows_per_s, curation_docs_per_s, served_docs_per_s), the other
medians and tails (a tail is the highest percentile with at least ten
samples beyond it, and the table gives that percentile; it exists only
above the median, so with 20 samples or fewer it is not reported: at
run_seconds = 20 the polls, micro-batches and served batches stay at or
under that count), warmup_s and
the JVM's resident-set high-water mark peak_rss_mb (VmHWM). They are
not bounded: on a shared 4-core host their run-to-run spread reached
25-45 %, beyond the largest bound allowed; compare.py compares them
pairwise by seed.

Per-layer metrics (traced run) are medians over the traced operations
of the workload's primary kind (dag, corpus) of per-operation sums,
except: poll.* and incremental.* are over the traced polls,
streaming.* and state.* over the drain's micro-batches, and
llm.crossNearDupPairsStaged / llm.corpusBandSignatures over the served
batches and the set-up builds.
"""
import statistics

PRIMARY = {"medallion_dag": "dag", "curation_dedup": "corpus"}
MB = 1024.0 * 1024.0

PER_LAYER = [
    ("catalyst.plan_s", "s"), ("catalyst.actions", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.delay_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.skew", "ratio"),
    ("spill.disk_mb", "MB"), ("operator.exchange.count", "count"),
    ("operator.sort.time_s", "s"), ("operator.hashagg.time_s", "s"),
    ("operator.codegen.time_s", "s"), ("operator.window.spill_mb", "MB"),
    ("io.writeJsonLines.wall_s", "s"), ("io.writeParquet.wall_s", "s"),
    ("io.out_mb", "MB"), ("io.out_files", "count"),
    ("poll.catalyst.plan_s", "s"), ("poll.catalyst.actions", "count"),
    ("poll.scheduler.jobs", "count"), ("poll.scheduler.delay_s", "s"),
    ("poll.executor.busy_frac", "ratio"), ("poll.io.writeJsonLines.wall_s", "s"),
    ("poll.io.out_files", "count"),
    ("incremental.lookup.wall_s", "s"), ("incremental.update.wall_s", "s"),
    ("incremental.nextWatermark.wall_s", "s"), ("incremental.useful_poll_frac", "ratio"),
    ("pipeline.batchFullLoad.self_s", "s"), ("pipeline.incrementalIngest.self_s", "s"),
    ("pipeline.Browsing.bronze.self_s", "s"), ("pipeline.qualityCheck.self_s", "s"),
    ("quality.metrics.jobs", "count"),
    ("streaming.addBatch_ms", "ms"), ("streaming.queryPlanning_ms", "ms"),
    ("streaming.walCommit_ms", "ms"), ("streaming.commitOffsets_ms", "ms"),
    ("streaming.latestOffset_ms", "ms"), ("streaming.empty_batch_frac", "ratio"),
    ("state.commit_ms", "ms"), ("state.rows_total", "count"), ("state.memory_mb", "MB"),
    ("state.rows_dropped_late", "count"),
    ("llm.nearDupPairs.action_s", "s"), ("llm.nearDupClusters.wall_s", "s"),
    ("llm.nearDupClusters.jobs", "count"), ("llm.candidates_per_verified", "ratio"),
    ("llm.corpusBandSignatures.wall_s", "s"), ("llm.crossNearDupPairsStaged.action_s", "s"),
    ("caching.persisted_mb", "MB"), ("jvm.driver_gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
    ("setup.warmup_s", "s"),
    ("trace.overhead_s", "s"), ("trace.overhead_frac", "ratio"),
]
END_TO_END = [("setup_s", "s"), ("op_p50_s", "s")]


def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def tail(xs):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; (None, None) unless that lies above the median
    (more than 20 samples)."""
    xs = sorted(xs)
    k = len(xs) - 10
    if 2 * k <= len(xs):
        return None, None
    return xs[k - 1], round(100.0 * k / len(xs), 1)


def failures(record, verdicts):
    bad = {}
    for op in record["ops"]:
        if op["error"]:
            bad.setdefault(op["id"], []).append(f"error: {op['error']}")
    for op, name, v in verdicts:
        if v != "OK":
            bad.setdefault(op, []).append(f"{name}: {v}")
    return bad


def end_to_end(workload, record):
    ops = [o for o in record["ops"] if o["measured"] and not o["error"]]
    by = lambda k: [o for o in ops if o["kind"] == k]  # noqa: E731
    walls = lambda k: [o["wall_s"] for o in by(k)]  # noqa: E731
    named, counts = {}, {}
    if workload == "medallion_dag":
        named["batch_rows_per_s"] = med([o["rows"] / o["wall_s"] for o in by("dag")])
        named["dag_p50_s"] = med(walls("dag"))
        polls = walls("poll")
        named["poll_p50_s"] = med(polls)
        named["poll_tail_s"], named["poll_tail_pct"] = tail(polls)
        drain = by("drain")
        batches = [p for p in record["progress"] if drain and p["op"] == drain[0]["id"]]
        trig = [p["duration_ms"].get("triggerExecution", 0.0) / 1000.0 for p in batches]
        named["microbatch_p50_s"] = med(trig)
        named["microbatch_tail_s"], named["microbatch_tail_pct"] = tail(trig)
        named["stream_rows_per_s"] = (sum(p["rows"] for p in batches) / drain[0]["wall_s"]
                                      if drain else None)
        counts.update(dag=len(by("dag")), poll=len(polls), microbatch=len(trig))
        op_p50 = named["poll_p50_s"]
    else:
        named["curation_docs_per_s"] = med([o["rows"] / o["wall_s"] for o in by("corpus")])
        named["serve_batch_p50_s"] = med(walls("serve"))
        named["serve_batch_tail_s"], named["serve_batch_tail_pct"] = tail(walls("serve"))
        named["served_docs_per_s"] = med([o["rows"] / o["wall_s"] for o in by("serve")])
        counts.update(corpus=len(by("corpus")), serve=len(by("serve")))
        op_p50 = named["serve_batch_p50_s"]
    named["warmup_s"] = record["warmup_s"]
    named["peak_rss_mb"] = record["peak_rss_mb"]
    line = {"setup_s": med(record["setup_s"]), "op_p50_s": op_p50}
    return line, named, counts


def _union_len(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(workload, record, cores):
    def traced_of(kind):
        return [o for o in record["ops"]
                if o["kind"] == kind and o["measured"] and o["traced"] and not o["error"]]

    traced = traced_of(PRIMARY[workload])
    spans = record["spans"]
    execs = [e for e in record["sql_execs"] if e.get("end_ms") and e["root"] == e["exec"]]
    jobs = [j for j in record["jobs"] if j.get("end_ms")]

    def of(rows, op):
        return [r for r in rows if r["op"] == op["id"]]

    def in_span(rows, sp):
        return [r for r in rows if sp["start_ms"] <= r["start_ms"] <= sp["end_ms"]]

    def exec_wall(op, fn):
        return sum((e["end_ms"] - e["start_ms"]) / 1000.0 for e in of(execs, op)
                   if fn in e["frames"])

    def self_s(op, name):
        total = 0.0
        for sp in [s for s in of(spans, op) if s["name"] == name]:
            kids = [(c["start_ms"], c["end_ms"]) for c in spans
                    if c["parent"] == sp["id"]]
            kids += [(e["start_ms"], e["end_ms"]) for e in in_span(of(execs, op), sp)]
            kids = [(max(s, sp["start_ms"]), min(e, sp["end_ms"])) for s, e in kids]
            total += (sp["end_ms"] - sp["start_ms"] - _union_len(kids)) / 1000.0
        return total

    def span_wall(op, name):
        return sum((s["end_ms"] - s["start_ms"]) / 1000.0 for s in of(spans, op)
                   if s["name"] == name)

    def stage_sum(op, k):
        return sum(s.get(k, 0.0) for s in of(record["stages"], op))

    def query_sum(op, k):
        return sum(q[k] for q in of(record["queries"], op))

    def per_op(fn, kind=None):
        ops_ = traced_of(kind) if kind else traced
        return med([fn(o) for o in ops_]) if ops_ else 0.0

    out = {
        "catalyst.plan_s": per_op(lambda o: query_sum(o, "plan_ms") / 1000.0),
        "catalyst.actions": per_op(lambda o: len(of(record["queries"], o))),
        "scheduler.jobs": per_op(lambda o: len(of(jobs, o))),
        "scheduler.stages": per_op(lambda o: len(of(record["stages"], o))),
        "scheduler.tasks": per_op(lambda o: stage_sum(o, "tasks")),
        "scheduler.delay_s": per_op(lambda o: stage_sum(o, "delay_ms") / 1000.0),
        "executor.run_s": per_op(lambda o: stage_sum(o, "run_ms") / 1000.0),
        "executor.cpu_s": per_op(lambda o: stage_sum(o, "cpu_ms") / 1000.0),
        "executor.gc_s": per_op(lambda o: stage_sum(o, "gc_ms") / 1000.0),
        "executor.busy_frac": per_op(
            lambda o: stage_sum(o, "run_ms") / 1000.0 / (o["wall_s"] * cores)),
        "shuffle.write_mb": per_op(lambda o: stage_sum(o, "shuffle_write_bytes") / MB),
        "shuffle.read_mb": per_op(lambda o: stage_sum(o, "shuffle_read_bytes") / MB),
        "shuffle.skew": per_op(lambda o: max([s.get("skew", 0.0)
                                              for s in of(record["stages"], o)] or [0.0])),
        "spill.disk_mb": per_op(lambda o: stage_sum(o, "spill_disk_bytes") / MB),
        "operator.exchange.count": per_op(lambda o: query_sum(o, "exchanges")),
        "operator.sort.time_s": per_op(lambda o: query_sum(o, "sort_ms") / 1000.0),
        "operator.hashagg.time_s": per_op(lambda o: query_sum(o, "hashagg_ms") / 1000.0),
        "operator.codegen.time_s": per_op(lambda o: query_sum(o, "codegen_ms") / 1000.0),
        "operator.window.spill_mb": per_op(lambda o: query_sum(o, "window_spill_bytes") / MB),
        "io.writeJsonLines.wall_s": per_op(lambda o: exec_wall(o, "io.writeJsonLines")),
        "io.writeParquet.wall_s": per_op(lambda o: exec_wall(o, "io.writeParquet")),
        "io.out_mb": per_op(lambda o: query_sum(o, "out_bytes") / MB),
        "io.out_files": per_op(lambda o: query_sum(o, "out_files")),
        "incremental.lookup.wall_s": per_op(lambda o: exec_wall(o, "incremental.lookup"), "poll"),
        "incremental.update.wall_s": per_op(lambda o: exec_wall(o, "incremental.update"), "poll"),
        "incremental.nextWatermark.wall_s": per_op(
            lambda o: exec_wall(o, "incremental.nextWatermark"), "poll"),
        "pipeline.batchFullLoad.self_s": per_op(lambda o: self_s(o, "pipeline.batchFullLoad")),
        "pipeline.incrementalIngest.self_s": per_op(
            lambda o: self_s(o, "pipeline.incrementalIngest"), "poll"),
        "poll.catalyst.plan_s": per_op(lambda o: query_sum(o, "plan_ms") / 1000.0, "poll"),
        "poll.catalyst.actions": per_op(lambda o: len(of(record["queries"], o)), "poll"),
        "poll.scheduler.jobs": per_op(lambda o: len(of(jobs, o)), "poll"),
        "poll.scheduler.delay_s": per_op(lambda o: stage_sum(o, "delay_ms") / 1000.0, "poll"),
        "poll.executor.busy_frac": per_op(
            lambda o: stage_sum(o, "run_ms") / 1000.0 / (o["wall_s"] * cores), "poll"),
        "poll.io.writeJsonLines.wall_s": per_op(lambda o: exec_wall(o, "io.writeJsonLines"), "poll"),
        "poll.io.out_files": per_op(lambda o: query_sum(o, "out_files"), "poll"),
        "pipeline.Browsing.bronze.self_s": per_op(lambda o: self_s(o, "pipeline.Browsing.bronze")),
        "pipeline.qualityCheck.self_s": per_op(lambda o: self_s(o, "pipeline.qualityCheck")),
        "caching.persisted_mb": per_op(
            lambda o: record["persisted_peak_bytes"].get(str(o["id"]), 0) / MB),
        "jvm.driver_gc_s": per_op(lambda o: o["gc_s"]),
        "setup.warmup_s": record["warmup_s"],
        "jvm.peak_rss_mb": record["peak_rss_mb"],
    }
    # polls that landed rows: each poll writes its landzone only when
    # its batch is non-empty
    polls = traced_of("poll")
    out["incremental.useful_poll_frac"] = (
        sum(1 for o in polls if exec_wall(o, "io.writeJsonLines") > 0) / len(polls)
        if polls else 0.0)
    qc = [(o, s) for o in traced for s in of(spans, o) if s["name"] == "pipeline.qualityCheck"]
    out["quality.metrics.jobs"] = med([len(in_span(of(jobs, o), s)) for o, s in qc]) or 0.0

    drains = [o for o in record["ops"] if o["kind"] == "drain" and o["traced"]]
    batches = [p for p in record["progress"] if drains and p["op"] == drains[0]["id"]]
    for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"):
        out[f"streaming.{k}_ms"] = med([p["duration_ms"].get(k, 0.0) for p in batches]) or 0.0
    out["streaming.empty_batch_frac"] = (
        sum(1 for p in batches if p["rows"] == 0) / len(batches) if batches else 0.0)
    out["state.commit_ms"] = med([p["state_commit_ms"] for p in batches]) or 0.0
    out["state.rows_total"] = batches[-1]["state_rows_total"] if batches else 0.0
    out["state.memory_mb"] = max([p["state_memory_bytes"] for p in batches] or [0.0]) / MB
    out["state.rows_dropped_late"] = sum(p["state_rows_dropped_late"] for p in batches)

    out["llm.nearDupPairs.action_s"] = per_op(lambda o: span_wall(o, "llm.nearDupPairs.action"))
    out["llm.nearDupClusters.wall_s"] = per_op(lambda o: span_wall(o, "llm.nearDupClusters"))
    out["llm.nearDupClusters.jobs"] = per_op(lambda o: sum(
        len(in_span(of(jobs, o), s)) for s in of(spans, o) if s["name"] == "llm.nearDupClusters"))

    def candidates(o):
        # the pair write is the corpus pass's one write whose plan joins:
        # its largest join output is the band join's candidate count
        qs = [q for q in of(record["queries"], o) if q["out_rows"] > 0 and q["join_rows_max"] > 0]
        return max([q["join_rows_max"] / q["out_rows"] for q in qs] or [0.0])

    out["llm.candidates_per_verified"] = per_op(candidates)
    kind_spans = lambda kind, name: med([  # noqa: E731
        span_wall(o, name) for o in record["ops"] if o["kind"] == kind and o["traced"]]) or 0.0
    out["llm.corpusBandSignatures.wall_s"] = kind_spans("build", "llm.corpusBandSignatures")
    out["llm.crossNearDupPairsStaged.action_s"] = kind_spans(
        "serve", "llm.crossNearDupPairsStaged.action")

    # tracing overhead: traced vs untraced operations of the kind behind
    # op_p50_s, the most numerous (every other operation is traced)
    kind = {"medallion_dag": "poll", "curation_dedup": "serve"}[workload]
    done = [o for o in record["ops"] if o["kind"] == kind and o["measured"] and not o["error"]]
    on = [o["wall_s"] for o in done if o["traced"]]
    off = [o["wall_s"] for o in done if not o["traced"]]
    if on and off:
        out["trace.overhead_s"] = med(on) - med(off)
        out["trace.overhead_frac"] = out["trace.overhead_s"] / med(off)
    else:
        out["trace.overhead_s"] = out["trace.overhead_frac"] = 0.0
    return {k: float(v if v is not None else 0.0) for k, v in out.items()}


def summarize(workload, record, verdicts, cores, traced):
    bad = failures(record, verdicts)
    measured = [o for o in record["ops"] if o["measured"]]
    failed = sum(1 for o in measured if o["id"] in bad)
    failed_setup = [i for i in bad if i not in {o["id"] for o in measured}]
    table = [f"# {workload}: {len(measured)} operations, {len(verdicts)} output checks, "
             f"{failed} failed (error_rate {failed / max(1, len(measured)):.4f})"]
    for op_id, why in sorted(bad.items()):
        for w in why:
            table.append(f"#   FAIL op {op_id}: {w[:300]}")
    line_e2e, named, counts = end_to_end(workload, record)
    report = {"error_rate": failed / max(1, len(measured)), "named": named, "counts": counts,
              "setup_samples": record["setup_s"],
              "failures": {str(k): v for k, v in bad.items()}}
    if traced:
        values = per_layer(workload, record, cores)
        units = dict(PER_LAYER)
    else:
        values = line_e2e
        units = dict(END_TO_END)
        table.append(f"#   counts: {counts}")
        for k, v in named.items():
            if v is None and k.endswith("_tail_s"):
                table.append(f"#   {k:24s} not measured: a tail needs more than 20 samples")
            elif v is not None:
                table.append(f"#   {k:24s} {v}")
    for k, v in values.items():
        table.append(f"#   {k:40s} {v!r} {units[k]}")
    correct = failed == 0 and not failed_setup and bool(verdicts)
    line = {"correct": correct, "attempted": len(measured), "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in values}}
    return {"line": line, "table": table, "report": report}
