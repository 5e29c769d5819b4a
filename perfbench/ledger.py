"""The traced run: a per-layer ledger of the KG engine, timed from outside.

Every traced run measures every layer, whatever ``--workload`` names, so
each traced result carries the whole ledger:

- the parse path of the parse_pages corpus as a ladder of jobs that each
  add one layer (scan; Arrow handoff; ``<script>`` extraction;
  ``json.loads``; the kernel's ``parse_block``; the full
  ``pages_to_quads`` with its emitter). A layer's self time is its rung
  minus the rung below;
- the store and exact canonicalization of the build_kg corpus, replayed
  step by step through the same public calls ``plans.pipeline.build_kg``
  makes, with prefix probes (a no-op parse, ``quads_table`` alone, the
  mapping alone) to split the steps into layers;
- fuzzy canonicalization (MinHash edges, then connected components) and
  PageRank over the kg_graph inputs;
- the kernel in process: call and quad counts from cProfile over a fixed
  block sample, and one-core quads/s.

Every Spark job is tagged with ``setJobDescription``; per-stage task
numbers come from the session's event log, read after the session stops.
The tracing overhead compares parse_pages runs in three sessions of one
JVM: OVERHEAD_RUNS untraced runs in a session without the event log, after
the same warm-up as a timed run; OVERHEAD_RUNS traced ones (the ladder's
full rung and the runs right after it); then OVERHEAD_RUNS untraced ones
again. The later sessions warm up with one run, which starts their Python
workers; the JVM is warm by then. Runs still get faster as the JVM ages,
so the untraced runs sit on both sides of the traced ones. The overhead is
the median traced wall over the median untraced wall, minus one.
"""

from __future__ import annotations

import cProfile
import json
import os
import pstats
import statistics
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import workloads as wl

OVERHEAD_RUNS = 3  # parse_pages runs on each side of the tracing overhead
BUSY = ("handoff", "extract", "json_loads", "parse_block")
COUNT_SCHEMA = ("n long, blocks long, quads long, errors long, "
                + ", ".join(f"{k} double" for k in BUSY))


def _counts(n=0, blocks=0, quads=0, errors=0, busy=None):
    busy = busy or {}
    cols = {"n": [n], "blocks": [blocks], "quads": [quads],
            "errors": [errors]}
    cols.update({k: [busy.get(k, 0.0)] for k in BUSY})
    return pa.RecordBatch.from_pydict(cols, schema=pa.schema(
        [(k, pa.int64()) for k in ("n", "blocks", "quads", "errors")]
        + [(k, pa.float64()) for k in BUSY]))


def _rung_handoff(batches):
    """Arrow handoff: the page batch into Python objects, nothing else."""
    for b in batches:
        urls = b.column("url").to_pylist()
        b.column("html").to_pylist()
        yield _counts(n=len(urls))


def _rung_kernel(batches, cache):
    """Handoff, extraction, ``json.loads`` and ``parse_block``, each timed
    in the worker (busy seconds per layer). ``json.loads`` runs once more
    than in the engine, which parses inside ``parse_block``; the driver
    takes that second run back out of the rung's wall time."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        parse_block)
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html)
    clock = time.perf_counter
    for b in batches:
        busy = dict.fromkeys(BUSY, 0.0)
        blocks = quads = errors = 0
        t0 = clock()
        pages = zip(b.column("url").to_pylist(), b.column("html").to_pylist())
        t1 = clock()
        busy["handoff"] += t1 - t0
        for url, html in pages:
            t0 = clock()
            found = extract_blocks_from_html(html)
            t1 = clock()
            busy["extract"] += t1 - t0
            for blk, block in enumerate(found):
                t0 = clock()
                try:
                    json.loads(block)
                except ValueError:
                    pass
                t1 = clock()
                q, err = parse_block(block, url, blk, cache)
                t2 = clock()
                busy["json_loads"] += t1 - t0
                busy["parse_block"] += t2 - t1
                blocks += 1
                quads += len(q)
                errors += err is not None
        yield _counts(n=b.num_rows, blocks=blocks, quads=quads,
                      errors=errors, busy=busy)


class Tracer:
    """Tags Spark jobs and keeps the wall time of each tagged step."""

    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = {}

    def __call__(self, tag: str, fn):
        self.spark.sparkContext.setJobDescription(tag)
        try:
            wall, out = wl.timed(fn)
        finally:
            self.spark.sparkContext.setJobDescription(None)
        if tag in self.walls:
            raise ValueError(f"step {tag!r} traced twice")
        self.walls[tag] = wall
        wl.log(f"  {tag}: {wall:.3f} s")
        return out


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by a set of [start, end] millisecond intervals."""
    total, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total / 1e3


def event_log_metrics(log_dir: str) -> tuple[dict, dict, dict]:
    """Per tag: task metric sums, stage durations, and the seconds during
    which at least one of its Spark jobs ran."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir)
             for f in fs if not f.endswith(".inprogress")]
    stage_tag: dict[int, str] = {}
    job_start: dict[int, tuple[str, int]] = {}
    jobs: dict[str, list] = defaultdict(list)
    sums: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    spans: dict[str, list[float]] = defaultdict(list)
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(
                        "spark.job.description")
                    if tag:
                        job_start[ev["Job ID"]] = (tag, ev["Submission Time"])
                        for sid in ev.get("Stage IDs", []):
                            stage_tag.setdefault(sid, tag)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_start:
                        tag, start = job_start.pop(ev["Job ID"])
                        jobs[tag].append((start, ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if tag is None or not m:
                        continue
                    s = sums[tag]
                    s["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    s["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    tag = stage_tag.get(info["Stage ID"])
                    if tag and "Completion Time" in info and (
                            "Submission Time" in info):
                        spans[tag].append((info["Completion Time"]
                                           - info["Submission Time"]) / 1e3)
    return sums, spans, {tag: _union_s(iv) for tag, iv in jobs.items()}


def kernel_in_process(pages_path: str, seconds: float = 1.5) -> dict:
    """Kernel counts over a fixed block sample (cProfile, after a warm
    pass) and single-thread quads/s, in this process."""
    from jsonld_streaming_parser_js_spark.functions.parser import (
        parse_block)
    from jsonld_streaming_parser_js_spark.operators.extract import (
        extract_blocks_from_html)
    from jsonld_streaming_parser_js_spark.sources.pages import CONTEXTS
    pages = pq.read_table(pages_path, columns=["url", "html"]).slice(
        0, 1500).to_pylist()
    blocks = [(p["url"], blk, block) for p in pages
              for blk, block in enumerate(extract_blocks_from_html(p["html"]))]
    sample = blocks[:300]

    def one_pass(items) -> int:
        return sum(len(parse_block(b, u, k, CONTEXTS)[0])
                   for u, k, b in items)

    one_pass(sample)
    prof = cProfile.Profile()
    prof.enable()
    quads = one_pass(sample)
    prof.disable()
    calls = pstats.Stats(prof).total_calls
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        n += one_pass(blocks)
    elapsed = time.perf_counter() - t0
    return {"kernel.calls_per_block": calls / len(sample),
            "kernel.quads_per_block": quads / len(sample),
            "kernel.quads_per_s_1core": n / elapsed}


def checked_run(spark, p: wl.ParsePages, what: str) -> None:
    p.run(spark)
    err = p.check(spark)
    if err:
        raise RuntimeError(f"{what} parse_pages run: {err}")


def warm_up(spark, p: wl.ParsePages, runs: int) -> None:
    for _ in range(runs):
        checked_run(spark, p, "warm-up")


def untraced_runs(spark, p: wl.ParsePages, warm: int) -> list[float]:
    """Walls of OVERHEAD_RUNS untraced parse_pages runs after ``warm``
    warm-up runs."""
    wl.size_splits(spark, p.pages_path, p.cores)
    warm_up(spark, p, warm)
    return [wl.timed(lambda: checked_run(spark, p, "untraced"))[0]
            for _ in range(OVERHEAD_RUNS)]


def parse_ladder(spark, tr: Tracer, p: wl.ParsePages) -> dict:
    """Scan, handoff, kernel and full rungs of the parse path. The kernel
    rung's extra wall over the handoff rung is split between extraction,
    ``json.loads`` and the rest of the kernel by their busy seconds."""
    from jsonld_streaming_parser_js_spark.operators.parse import (
        ensure_map_parallelism)
    from jsonld_streaming_parser_js_spark.sources.pages import CONTEXTS
    wl.size_splits(spark, p.pages_path, p.cores)
    cache = dict(CONTEXTS)

    def pages():
        return ensure_map_parallelism(
            spark.read.parquet(p.pages_path).select("url", "html"))

    def rung(fn):
        return lambda: pages().mapInArrow(fn, COUNT_SCHEMA).groupBy().sum(
        ).first().asDict()

    # untimed: starts the Python workers and imports this module in them
    rung(_rung_handoff)()
    tr("scan", lambda: pages().write.format("noop").mode("overwrite").save())
    tr("handoff", rung(_rung_handoff))
    k = tr("kernel", rung(lambda it: _rung_kernel(it, cache)))
    tr("parse_pages", lambda: p.run(spark))
    err = p.check(spark)
    if err:
        raise RuntimeError(f"traced parse_pages run: {err}")
    busy = {name: k[f"sum({name})"] for name in BUSY}
    engine = busy["extract"] + busy["parse_block"]  # json.loads once
    span = ((tr.walls["kernel"] - tr.walls["handoff"])
            * engine / (engine + busy["json_loads"]))
    share = {"extract": busy["extract"] / engine,
             "json_loads": busy["json_loads"] / engine,
             "kernel": (busy["parse_block"] - busy["json_loads"]) / engine}
    return {
        "extract.self_s": span * share["extract"],
        "kernel.json_loads_self_s": span * share["json_loads"],
        "kernel.parse_self_s": span * share["kernel"],
        "parse.emit_self_s": (tr.walls["parse_pages"] - tr.walls["handoff"]
                              - span),
        "extract.blocks": k["sum(blocks)"],
        "kernel.quads": k["sum(quads)"],
        "parse.block_error_share": k["sum(errors)"] / k["sum(blocks)"],
        **{f"{name}.busy_s": v for name, v in busy.items()},
    }


def build_steps(spark, tr: Tracer, b: wl.BuildKg) -> dict:
    """The build_kg workload's call (``build_kg`` with the job's default
    config, which is ``run_with_resume``), a no-op parse of the same pages
    to split it into parse and sink, then the canonicalization steps
    ``build_kg(canonicalize=True)`` runs over the committed store, each
    with a prefix probe."""
    from jsonld_streaming_parser_js_spark.operators import canonicalize
    from jsonld_streaming_parser_js_spark.operators.parse import (
        extract_and_parse)
    from jsonld_streaming_parser_js_spark.plans import pipeline
    from jsonld_streaming_parser_js_spark.sources.pages import CONTEXTS
    wl.size_splits(spark, b.pages_path, b.cores)
    b.run(spark)  # warm-up
    b.cleanup()
    tr("build_kg", lambda: b.run(spark))
    err = b.check(spark)
    if err:
        raise RuntimeError(f"traced build_kg run: {err}")
    out = b.out_dir
    pages = spark.read.parquet(b.pages_path)
    tr("noop_parse", lambda: extract_and_parse(pages, CONTEXTS).write.format(
        "noop").mode("overwrite").save())
    quads = pipeline.quads_table(spark, out)
    mapping = canonicalize.canonical_mapping(quads)
    tr("quads_table", lambda: quads.write.format("noop").mode(
        "overwrite").save())
    tr("exact_mapping", lambda: mapping.write.format("noop").mode(
        "overwrite").save())
    tr("relabel_write", lambda: canonicalize.relabel_quads(quads, mapping)
       .write.mode("overwrite").parquet(f"{out}/quads_canonical"))
    tr("merged_count", mapping.count)
    got = wl.fold(spark.read.parquet(f"{out}/quads_canonical"))
    if got != b.expected_canonical:
        raise RuntimeError(f"quads_canonical (count, hash) {got} != "
                           f"{b.expected_canonical}")
    sizes = [os.path.getsize(os.path.join(d, f))
             for d, _, fs in os.walk(f"{out}/quads")
             for f in fs if f.endswith(".parquet")]
    b.cleanup()
    return {"sink.bytes_written": sum(sizes), "sink.files_written": len(sizes)}


def graph_steps(spark, tr: Tracer, g: wl.KgGraph) -> dict:
    from pyspark.sql import functions as F

    from jsonld_streaming_parser_js_spark.operators import (
        canonicalize, graphalgo)
    a = g.fuzzy_args
    feats = canonicalize.node_features(spark.read.parquet(g.paths["entities"]))
    edges = tr("minhash_edges", lambda: canonicalize.candidate_edges_minhash(
        feats, num_hashes=a["num_hashes"], bands=a["bands"],
        min_jaccard=a["min_jaccard"]).localCheckpoint())
    n_edges = edges.count()
    st: dict = {}
    g.got_map = tr("cc", lambda: canonicalize.connected_components(
        edges, stats=st).where(F.col("node") != F.col("component"))
        .select("node", F.col("component").alias("canonical")).collect())
    g.got_rank = tr("pagerank", lambda: graphalgo.pagerank(
        g.edges(spark), iterations=5).collect())
    err = g.check(spark)
    if err:
        raise RuntimeError(f"traced kg_graph steps: {err}")
    return {"canonicalize.edges": n_edges,
            "canonicalize.cc_rounds": st["iterations"]}


def traced(w, pinning: str, scale) -> tuple[dict, dict]:
    """The whole ledger, whatever workload ``w`` is; the tracing overhead
    is measured on the parse_pages leg."""
    if w.name not in ("parse_pages", "build_kg"):
        raise SystemExit(f"perfbench: {w.name} has no traced run")
    t0 = time.perf_counter()
    legs = {cls.name: cls(os.path.join(w.work, cls.name), w.seed, scale)
            for cls in (wl.ParsePages, wl.BuildKg, wl.KgGraph)}
    for leg in legs.values():
        os.makedirs(leg.work)
    p = legs["parse_pages"]

    # untraced reference: no event log, no job tags
    spark = wl.start_spark(w.work, 4)
    try:
        for leg in legs.values():
            leg.make_inputs(spark, 0)
            leg.expect(spark)
        wl.log(f"ledger: inputs ready at {time.perf_counter() - t0:.1f} s")
        untraced = untraced_runs(spark, p, p.warmup_runs)
        spark.stop()

        # traced session in the same JVM
        log_dir = os.path.join(w.work, "eventlog")
        spark = wl.start_spark(w.work, 4, event_log=log_dir)
        tr = Tracer(spark)
        wl.size_splits(spark, p.pages_path, p.cores)
        warm_up(spark, p, 1)
        counts = parse_ladder(spark, tr, p)
        traced_refs = ["parse_pages"] + [f"parse_pages.{i}" for i in
                                         range(2, OVERHEAD_RUNS + 1)]
        for tag in traced_refs[1:]:
            tr(tag, lambda: checked_run(spark, p, "traced"))
        wl.log(f"ledger: parse ladder done at {time.perf_counter() - t0:.1f} s")
        counts.update(build_steps(spark, tr, legs["build_kg"]))
        wl.log(f"ledger: build_kg steps done at "
               f"{time.perf_counter() - t0:.1f} s")
        counts.update(graph_steps(spark, tr, legs["kg_graph"]))
        spark.stop()

        # untraced again, after the traced session
        spark = wl.start_spark(w.work, 4)
        untraced += untraced_runs(spark, p, 1)
    finally:
        wl.stop_spark(spark)
    counts.update(kernel_in_process(p.pages_path))
    sums, spans, busy = event_log_metrics(log_dir)
    wl.log(f"ledger: done at {time.perf_counter() - t0:.1f} s")

    t = tr.walls
    walls = {
        "scan.wall_s": t["scan"],
        "arrow.roundtrip_s": t["handoff"] - t["scan"],
        "extract.self_s": counts.pop("extract.self_s"),
        "kernel.json_loads_self_s": counts.pop("kernel.json_loads_self_s"),
        "kernel.parse_self_s": counts.pop("kernel.parse_self_s"),
        "parse.emit_self_s": counts.pop("parse.emit_self_s"),
        "lineage.run_with_resume_s": t["build_kg"],
        "lineage.sink_self_s": t["build_kg"] - t["noop_parse"],
        "pipeline.quads_table_s": t["quads_table"],
        "canonicalize.exact_mapping_s": (t["exact_mapping"] - t["quads_table"]
                                         + t["merged_count"]),
        "canonicalize.relabel_write_s": t["relabel_write"]
        - t["exact_mapping"],
        "canonicalize.minhash_edges_s": t["minhash_edges"],
        "canonicalize.cc_s": t["cc"],
        "graphalgo.pagerank_s": t["pagerank"],
        "graphalgo.iter_stage_s": statistics.fmean(spans["pagerank"]),
    }

    # event-log task numbers per module layer; a layer measured as a
    # difference of rungs or probes takes the same difference of theirs
    def ev(key, plus, minus=()):
        return (sum(sums.get(x, {}).get(key, 0.0) for x in plus)
                - sum(sums.get(x, {}).get(key, 0.0) for x in minus))

    layer_tags = {
        "scan": (("scan",), ()),
        "arrow": (("handoff",), ("scan",)),
        "parse": (("parse_pages",), ()),
        "lineage": (("build_kg",), ("noop_parse",)),
        "pipeline": (("quads_table",), ()),
        "canonicalize": (("relabel_write", "merged_count", "minhash_edges",
                          "cc"), ("quads_table",)),
        "graphalgo": (("pagerank",), ()),
    }
    shuffle_layers = ("lineage", "pipeline", "canonicalize", "graphalgo")
    metrics = {k: (v, "s") for k, v in walls.items()}
    for layer, (plus, minus) in layer_tags.items():
        metrics[f"{layer}.task_cpu_s"] = (ev("task_cpu_s", plus, minus), "s")
        if layer in ("parse", "lineage", "canonicalize"):
            metrics[f"{layer}.gc_s"] = (ev("gc_s", plus, minus), "s")
        if layer in shuffle_layers:
            metrics[f"{layer}.shuffle_write_bytes"] = (
                ev("shuffle_write_bytes", plus, minus), "B")
    metrics["ledger.spill_bytes"] = (
        sum(s["spill_bytes"] for s in sums.values()), "B")
    for name, layer in zip(BUSY, ("arrow.busy_s", "extract.busy_s",
                                  "kernel.json_loads_busy_s",
                                  "kernel.parse_block_busy_s")):
        metrics[layer] = (counts.pop(f"{name}.busy_s"), "s")
    units = {"sink.bytes_written": "B", "kernel.quads_per_s_1core": "1/s",
             "parse.block_error_share": "ratio"}
    for k, v in counts.items():
        metrics[k] = (v, units.get(k, "count"))
    # the named layers of each workload: their self times add up to the
    # traced wall unless noise makes one negative (clamped to zero here)
    ledger_layers = {
        "parse_pages": ("scan.wall_s", "arrow.roundtrip_s", "extract.self_s",
                        "kernel.json_loads_self_s", "kernel.parse_self_s",
                        "parse.emit_self_s"),
        "build_kg": ("lineage.sink_self_s",),
    }
    parse_share = {"parse_pages": 0.0, "build_kg": t["noop_parse"]}
    for name, keys in ledger_layers.items():
        named = parse_share[name] + sum(max(walls[k], 0.0) for k in keys)
        metrics[f"ledger.coverage.{name}"] = (named / t[name], "ratio")
        metrics[f"{name}.in_jobs_share"] = (busy[name] / t[name], "ratio")
    traced_walls = [t[tag] for tag in traced_refs]
    metrics["trace.overhead_share"] = (
        statistics.median(traced_walls) / statistics.median(untraced) - 1.0,
        "ratio")

    detail = {"workload": w.name, "seed": w.seed, "traced": True,
              "overhead_runs": {"untraced_s": untraced,
                                "traced_s": traced_walls},
              "step_walls_s": tr.walls,
              "corpus": {k: leg.corpus for k, leg in legs.items()},
              "pinning": pinning}
    result = {"correct": True, "attempted": 1, "failed": 0,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in sorted(metrics.items())}}
    return result, detail
