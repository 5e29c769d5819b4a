"""The benchmark's workloads: seeded set-up, one timed run, output check.

A workload object is built for one seed and one scale. ``make_inputs``
writes the stored inputs and may be called more than once (set-up time is
the median of several calls); ``expect`` computes the expected outputs
once; ``run`` is one timed run and returns the quads it produced or
consumed; ``check`` compares that run's output with the expectation and
``cleanup`` removes what the run wrote. ``KgGraph`` holds the inputs and
the checks of the traced run's graph steps (perfbench/ledger.py); it is
not a timed workload.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from . import corpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The driver heap of every session, set whatever the environment says:
# the package's default (8g, or SPARK_DRIVER_MEMORY) lets the heap grow
# when it happens to, and a 1 GB heap fixed at start (-Xms) keeps the
# resident memory from depending on that. perfbench/README.md compares
# the GC share of both.
DRIVER_HEAP = "1g"
PROBE_REPS = 3  # runs of each sink in the fold's cost probe


@dataclass(frozen=True)
class Scale:
    parse_docs: int   # pages of the parse_pages corpus (4 cores)
    parse1_docs: int  # pages of the parse_pages_1core corpus
    kg_docs: int      # pages of the build_kg template corpus
    graph_docs: int   # documents behind the kg_graph inputs
    row_groups: int   # parquet row groups of each stored pages table


# parse_pages: five times the sf0.1 document count; build_kg: three fifths
FULL = Scale(parse_docs=25000, parse1_docs=6000, kg_docs=3000,
             graph_docs=1000, row_groups=64)
TINY = Scale(parse_docs=500, parse1_docs=500, kg_docs=500, graph_docs=200,
             row_groups=8)


def start_spark(work: str, cores: int, event_log: str | None = None):
    """A local session from the package's own factory, with every scratch
    path inside the benchmark's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_HEAP}",
    }
    conf["spark.eventLog.enabled"] = "false"
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    from jsonld_streaming_parser_js_spark.sources.session import get_spark
    spark = get_spark(app="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def size_splits(spark, path: str, cores: int) -> None:
    """Split sizing of the stored pages scan: two splits per core."""
    split = max(os.path.getsize(path) // (cores * 2), 64 << 10)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")


def fold(df) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.expr(corpus.fold_sql()).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


CALIB_ROWS = 250_000
# The scale of the speed-adjusted CPU figures: they read as CPU seconds on
# a host where the calibration job takes this many CPU seconds. A fixed
# scale; only ratios between commits mean anything.
CALIB_CPU_S = 4.0


def _calibration_batches(batches):
    """Python work of the kind the parse kernel does (json and string
    handling) on rows handed over by Arrow."""
    import json

    import pyarrow as pa
    for b in batches:
        n = 0
        for i in b.column(0).to_pylist():
            doc = json.loads(json.dumps(
                {"@id": f"http://e.org/{i}", "name": str(i) * 3,
                 "v": [i, i + 1]}))
            n += len(doc["@id"])
        yield pa.RecordBatch.from_pydict({"n": [n]})


def calibration(spark) -> int:
    """A fixed Spark job of the parse path's kind (rows to Python workers
    over Arrow, json and string work there, an aggregate back) that calls
    no package code and pins the one setting it depends on. Its CPU
    seconds measure how fast the host lets this machine run at the
    moment: other tenants of the host's cores make every instruction
    slower, without any time being stolen."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        return spark.range(0, CALIB_ROWS, 1, 8).mapInArrow(
            _calibration_batches, "n long").groupBy().sum().first()[0]
    finally:
        spark.conf.set(key, old)


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory\
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    cores = 4
    warmup_runs = 3  # untimed runs first: the JIT is still compiling before

    def __init__(self, work: str, seed: int, scale: Scale):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.docs = os.path.join(work, "docs")
        self.corpus: dict = {}

    def make_inputs(self, spark, rep: int) -> None:
        raise NotImplementedError

    def expect(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark) -> int:
        raise NotImplementedError

    def check(self, spark) -> str | None:
        """None when the last run's output is correct, else why not."""
        raise NotImplementedError

    def cleanup(self) -> None:
        """Removes what the last run wrote (outside the timed region)."""

    def sink_probe(self, spark, cost) -> dict:
        """Costs the timed run pays for its own check, if any, measured
        after the timed loop; ``cost(fn)`` is (wall, CPU seconds, result)."""
        return {}


class ParsePages(Workload):
    """Stored pages parquet -> ``pages_to_quads``; every block distinct."""

    name = "parse_pages"
    template = False

    def n_docs(self) -> int:
        return self.scale.parse_docs

    def make_inputs(self, spark, rep: int) -> None:
        corpus.write_documents(self.docs, self.n_docs(), self.seed)
        self.pages_path = os.path.join(self.work, f"pages{rep}.parquet")
        corpus.write_pages(corpus.duck(self.docs), self.pages_path,
                           self.scale.row_groups, self.template)

    def expect(self, spark) -> None:
        con = corpus.duck(self.docs)
        self.expected_path = os.path.join(self.work, "expected.parquet")
        corpus.copy_rows(con, corpus.expected_quads_sql(), self.expected_path)
        self.expected = fold(spark.read.parquet(self.expected_path))
        self.corpus = dict(corpus.block_counts(con), quads=self.expected[0],
                           duplicated_block_share=0.0)
        size_splits(spark, self.pages_path, self.cores)

    def quads(self, spark):
        from jsonld_streaming_parser_js_spark.operators.parse import (
            pages_to_quads)
        from jsonld_streaming_parser_js_spark.sources.pages import CONTEXTS
        return pages_to_quads(spark.read.parquet(self.pages_path), CONTEXTS)

    def run(self, spark) -> int:
        # the sink is the check's fold: a row count and an
        # order-insensitive hash, computed in the same single stage
        self.got = fold(self.quads(spark))
        return self.got[0]

    def check(self, spark) -> str | None:
        if self.got != self.expected:
            return f"quads (count, hash) {self.got} != {self.expected}"
        return None

    def sink_probe(self, spark, cost) -> dict:
        """CPU seconds of the fold as the run's sink and of a noop sink:
        both over the stored expected quads, alternately, median of
        PROBE_REPS each."""
        path = self.expected_path
        noop, folded = [], []
        for _ in range(PROBE_REPS):
            noop.append(cost(lambda: spark.read.parquet(path).write.format(
                "noop").mode("overwrite").save())[1])
            folded.append(cost(lambda: fold(spark.read.parquet(path)))[1])
        return {"sink_noop_cpu_s": statistics.median(noop),
                "sink_fold_cpu_s": statistics.median(folded),
                "probe_reps": PROBE_REPS}


class ParsePages1Core(ParsePages):
    """The same job and corpus shape at one core, in a process pinned to
    one CPU."""

    name = "parse_pages_1core"
    cores = 1

    def n_docs(self) -> int:
        return self.scale.parse1_docs


class BuildKg(ParsePages):
    """``plans.pipeline.build_kg`` with the job's default config (lineage
    store, no canonicalization) into a fresh output directory, over pages
    that each carry their site's template block."""

    name = "build_kg"
    template = True
    # after three warm-up runs the next build_kg run still took 15-45% more
    # CPU than the ones after it
    warmup_runs = 5

    def n_docs(self) -> int:
        return self.scale.kg_docs

    def expect(self, spark) -> None:
        con = corpus.duck(self.docs)
        self.runs = 0
        store, canonical = (os.path.join(self.work, f"expected_{k}.parquet")
                            for k in ("store", "canonical"))
        template_blocks = corpus.expected_kg(con, store, canonical)
        self.expected = fold(spark.read.parquet(store))
        self.expected_canonical = fold(spark.read.parquet(canonical))
        counts = corpus.block_counts(con)
        blocks = counts["blocks"] + template_blocks
        self.corpus = dict(counts, blocks=blocks, quads=self.expected[0],
                           template_blocks=template_blocks,
                           # 7 distinct template blocks; every other
                           # template block duplicates one of them
                           duplicated_block_share=round(
                               (template_blocks - 7) / blocks, 6))
        size_splits(spark, self.pages_path, self.cores)

    def run(self, spark) -> int:
        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            PipelineConfig, build_kg)
        from jsonld_streaming_parser_js_spark.sources.pages import CONTEXTS
        self.runs += 1
        self.out_dir = os.path.join(self.work, f"kg_out{self.runs}")
        pages = spark.read.parquet(self.pages_path)
        self.stats = build_kg(spark, pages, PipelineConfig(
            out_dir=self.out_dir, ctx_cache=CONTEXTS))
        return self.corpus["quads"]

    def check(self, spark) -> str | None:
        from jsonld_streaming_parser_js_spark.plans.pipeline import (
            quads_table)
        got = fold(quads_table(spark, self.out_dir))
        if got != self.expected:
            return f"quads_table (count, hash) {got} != {self.expected}"
        lin = spark.read.parquet(f"{self.out_dir}/lineage").agg(
            F.sum("n_blocks").alias("b"), F.sum("n_errors").alias("e")
        ).first()
        got = (lin["b"], lin["e"])
        want = (self.corpus["blocks"], self.corpus["malformed_blocks"])
        if got != want:
            return f"lineage (blocks, errors) {got} != {want}"
        return None

    def cleanup(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def sink_probe(self, spark, cost) -> dict:
        return {}  # the check reads the store after the timed call


class KgGraph(Workload):
    """Inputs and checks of the traced graph steps: fuzzy canonicalization
    of an entity-chain corpus and 5-iteration PageRank over the entity
    edges of a stored quads parquet (perfbench/ledger.py ``graph_steps``
    sets ``got_map`` and ``got_rank``)."""

    name = "kg_graph"
    fuzzy_args = {"min_jaccard": 0.6, "num_hashes": 32, "bands": 16}

    def make_inputs(self, spark, rep: int) -> None:
        corpus.write_documents(self.docs, self.scale.graph_docs, self.seed)
        d = fresh_dir(os.path.join(self.work, f"graph{rep}"))
        self.paths = {k: os.path.join(d, f"{k}.parquet")
                      for k in ("entities", "store")}
        self.corpus = corpus.write_graph_inputs(
            corpus.duck(self.docs), self.paths["entities"],
            self.paths["store"])

    def expect(self, spark) -> None:
        self.want_map, self.want_rank = corpus.graph_expectations(
            corpus.duck(self.docs), self.paths["store"])
        self.corpus.update(
            quads=self.corpus["entity_quads"] + self.corpus["store_quads"],
            fuzzy_mapping=len(self.want_map), ranked_nodes=len(self.want_rank))

    def edges(self, spark):
        return (spark.read.parquet(self.paths["store"])
                .where(~F.col("obj").startswith('"'))
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")))

    def check(self, spark) -> str | None:
        got_map = {(r["node"], r["canonical"]) for r in self.got_map}
        if got_map != self.want_map:
            return (f"fuzzy mapping differs: {len(got_map ^ self.want_map)}"
                    f" rows of {len(self.want_map)}")
        got_rank = {r["node"]: r["rank"] for r in self.got_rank}
        if got_rank.keys() != self.want_rank.keys():
            return "pagerank node set differs"
        bad = [n for n, r in got_rank.items()
               if abs(r - self.want_rank[n]) > 1.5e-6]
        if bad:
            return f"pagerank differs on {len(bad)} nodes, e.g. {bad[0]}"
        return None


WORKLOADS = {w.name: w for w in (ParsePages, ParsePages1Core, BuildKg)}


def pin_one_cpu() -> str:
    """Pin this process, and so the JVM and Python workers it starts, to
    one CPU (the first one it may run on)."""
    cpu = min(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpu})
    return f"cpu {cpu}"


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)
