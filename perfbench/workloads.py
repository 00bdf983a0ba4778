"""The benchmark's workloads: operations, their layers and their checks.

A workload is a list of ``Op``s run in order; one run of the list is a
*pass*. Each op runs one or more named phases (``build``/``exec`` for a
registry row, ``train`` for an artifact trainer, ``sink`` for a writer...)
through ``Runner.phase``, which times the phase and, on a traced pass, tags
its Spark jobs with a job group and records its spans.

Both workloads are closed loops: one client in one process, on
``local[4]``.

- ``train_serve_etl``: overhead-bound, many small sequential jobs.
  Artifact trainers on cold caches, then registry serve rows that use no
  trained artifact, on the sf0.01-sized base tables; then the paper's path
  with writes: article JSON-lines read, enrichment, star build, the CSV
  sink, and the incremental star stream.
- ``corpus_10x``: corpus-scale registry rows on a 10x near-duplicate corpus.
  Data-bound: shuffles, wide joins and Python UDF work.

Every pass starts from cold caches: the lru-cached trainers of ``plans.*``
are cleared and the star output directory is emptied.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench import checks, inputs

#: Artifact trainers timed on ``train_serve_etl`` (row name, module,
#: function): one driver-tier tokenizer and the MLlib k-means index. The
#: other nine are left out to keep a run short; the GD classifiers, SemDeDup,
#: k-means and (IVF)PQ trainers alone take about 22 s a pass on 4 cores.
TRAINERS = (
    ("unigram_lm", "corpus_ops", "_uni_artifacts"),
    ("ivf_index", "ml_ops", "_ivf_index"),
)
#: Serve rows on ``train_serve_etl``: artifact-free rows of ``plans.relational``
#: and ``plans.pipeline_ops``.
SERVE_ROWS = ("pricing_summary", "sessionize", "doc_text_stats")
#: Registry rows on ``corpus_10x``.
CORPUS_ROWS = ("emb_decontaminate", "doc_containment", "doc_kn_lm", "rag_pipeline")
PLAN_MODULES = (
    "relational", "pipeline_ops", "corpus_ops", "curation_ops", "ml_ops", "screen_ops",
)

#: Input sizes per workload (``inputs.build`` keyword arguments).
SIZES = {
    "train_serve_etl": ("star", {"sf": 0.01, "docs": 100, "journals": 7}),
    "corpus_10x": ("corpus", {"sf": 0.01, "docs": 120, "vecs": 120}),
}
#: Warm-up inputs: tiny and seed-independent, so they are built once per
#: checkout. The warm-up pass runs every operation on them, which pays the
#: first-use costs (code generation, class loading, Python worker imports)
#: that the plans have whatever their input size.
WARM_SEED = 0
WARM_SIZES = {
    "train_serve_etl": ("star", {"sf": 0.001, "docs": 10, "journals": 3}),
    "corpus_10x": ("corpus", {"sf": 0.001, "docs": 20, "vecs": 20}),
}
#: Star ETL: the 10x documents give ``10 * docs`` articles; this share is
#: read in batch and the rest is split into ``STREAM_FILES`` stream files.
STAR_BATCH_SHARE = 0.6
STREAM_FILES = 2
STREAM_TIMEOUT_S = 120
#: Natural key per star table (the key ``plans.star_ops`` checksums).
STAR_KEYS = {
    "publishers": "ISSN", "topics": "Topic", "dates": "PublicationDate",
    "keywords": "Keyword", "authors": "FullName", "articles": "DOI",
    "author_article_map": "DOI", "keyword_article_map": "DOI",
}
STREAM_KEYS = {
    "articles": "DOI", "topics": "Topic", "authors": "FullName",
    "author_article_map": "DOI", "keywords": "Keyword",
    "keyword_article_map": "DOI",
}


@dataclass
class Op:
    name: str
    layer: str  # "train", "plans.<module>", "etl", "sources", "streaming"
    run: Callable  # run(runner) -> result kept for the check
    check: Callable | None = None  # check(results of every pass) -> reason|None


@dataclass
class PhaseRecord:
    op: str
    layer: str
    phase: str
    seconds: float
    jobs: list = field(default_factory=list)


class Runner:
    """Runs phases, timing them; on traced passes also tags and reads jobs."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.stats = None  # a trace.SparkStats once traced passes start
        self.traced = False
        self.records: list[PhaseRecord] = []
        self.op: Op | None = None  # the operation running now
        self.pass_no = 0

    def phase(self, name: str, fn: Callable):
        op = self.op
        if not self.traced:
            t0 = time.perf_counter()
            out = fn()
            self.records.append(PhaseRecord(op.name, op.layer, name,
                                            time.perf_counter() - t0))
            return out
        sc = self.spark.sparkContext
        group = f"p{self.pass_no}|{op.name}|{name}"
        sc.setJobGroup(group, group)
        span = self.tracer.open(name, "phase", op=op.name, layer=op.layer)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            self.tracer.close(span)
            jobs = self.stats.poll()
            for j in jobs:
                self.tracer.add_closed(f"job {j.job_id}", "spark_job", j.start, j.end,
                                       span, group=j.group, tasks=j.tasks)
            self.records.append(PhaseRecord(op.name, op.layer, name, dt, jobs))
        return out


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------

def _registry():
    from scraping_etl_spark.plans.registry import QUERIES

    return {q.name: q for q in QUERIES}


def registry_op(spec, sf_dir: str) -> Op:
    module = spec.fn.__module__.rsplit(".", 1)[-1]

    def run(r: Runner):
        df = r.phase("build", lambda: spec.fn(r.spark, sf_dir))
        return r.phase("exec", df.toArrow)

    def check(results):
        sql = spec.oracle() if callable(spec.oracle) else spec.oracle
        return checks.oracle_mismatch(results[-1], sql, sf_dir)

    return Op(spec.name, f"plans.{module}", run, check)


def trainer_op(name: str, module: str, fn_name: str, sf_dir: str) -> Op:
    fn = getattr(importlib.import_module(f"scraping_etl_spark.plans.{module}"), fn_name)

    def run(r: Runner):
        return r.phase("train", lambda: fn(sf_dir))

    def check(results):
        # retrain from a cold cache: a trainer is a function of its inputs
        fn.cache_clear()
        again = checks.digest(fn(sf_dir))
        if any(checks.digest(a) != again for a in results):
            return "artifact differs when retrained"
        if checks.artifact_size(results[0]) == 0:
            return "empty artifact"
        return None

    return Op(f"train:{name}", "train", run, check)


def clear_plan_caches() -> None:
    """Cold caches: clear every lru-cached function in ``plans.*``."""
    from scraping_etl_spark import plans

    for mod_name in PLAN_MODULES:
        mod = importlib.import_module(f"{plans.__name__}.{mod_name}")
        for obj in vars(mod).values():
            if callable(getattr(obj, "cache_clear", None)):
                obj.cache_clear()


# ---------------------------------------------------------------------------
# Star ETL
# ---------------------------------------------------------------------------

def _article_schema():
    from pyspark.sql import types as T

    from scraping_etl_spark.schemas import RAW_ARTICLES

    fields = [f for f in RAW_ARTICLES.fields if f.name != "publisher"]
    return T.StructType(fields + [T.StructField("journal_name", T.StringType())])


def _stream_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doi", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("site", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("keywords", T.ArrayType(T.StringType())),
    ])


def render_star_inputs(spark, star_dir: str, n_articles: int) -> dict:
    """Article JSON-lines and stream files, rendered once per seed through
    the engine's ``synth_articles`` from the seeded documents."""
    done = os.path.join(star_dir, "articles.done.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    n_batch = int(n_articles * STAR_BATCH_SHARE)
    per_file = (n_articles - n_batch) // STREAM_FILES
    from pyspark.sql import functions as F

    from scraping_etl_spark.plans.star_ops import synth_articles

    arts = synth_articles(spark, star_dir).withColumn(
        "m", F.expr("cast(substring(doi, 2) as bigint)")
    )
    batch_dir = os.path.join(star_dir, "articles_json")
    (arts.where(F.col("m") < n_batch)
         .withColumn("journal_name", F.col("publisher.name"))
         .drop("publisher", "m")
         .repartition(4).write.mode("overwrite").json(batch_dir))
    stream_rows = (
        arts.where(F.col("m") >= n_batch)
        .where(F.col("m") < n_batch + STREAM_FILES * per_file)
        .select("m", "doi", "title", "topic", F.col("website").alias("site"),
                "authors", "keywords")
        .orderBy("m").collect()
    )
    stream_dir = os.path.join(star_dir, "stream_json")
    os.makedirs(stream_dir, exist_ok=True)
    for i in range(STREAM_FILES):
        chunk = stream_rows[i * per_file:(i + 1) * per_file]
        with open(os.path.join(stream_dir, f"batch-{i:03d}.json"), "w") as f:
            for row in chunk:
                d = row.asDict()
                d.pop("m")
                f.write(json.dumps(d) + "\n")
    sizes = {
        "articles_json": {"rows": n_batch, "bytes": inputs.data_bytes(batch_dir)},
        "stream_json": {"rows": len(stream_rows), "bytes": inputs.data_bytes(stream_dir)},
    }
    with open(done, "w") as f:
        json.dump(sizes, f)
    return sizes


def star_ops(star_dir: str, out_dir: str) -> list[Op]:
    """One pass of the star ETL: read, enrich + build, the CSV sink, stream."""
    from scraping_etl_spark.etl.enrichment import enrich
    from scraping_etl_spark.etl.star_schema import build_star
    from scraping_etl_spark.sources import writers
    from scraping_etl_spark.sources.readers import read_json_lines
    from scraping_etl_spark.streaming.pipeline import incremental_star_stream

    articles = os.path.join(star_dir, "articles_json")
    state: dict = {}

    def d(*parts):
        return os.path.join(out_dir, *parts)

    def read(r):
        def scan():
            raw = read_json_lines(r.spark, articles, _article_schema(), quarantine=False)
            raw.write.format("noop").mode("overwrite").save()
            return raw
        state["raw"] = r.phase("read", scan)

    def build(r):
        def plan():
            quart = r.spark.read.parquet(os.path.join(star_dir, "journal_quartiles.parquet"))
            return build_star(enrich(state["raw"], quart))
        state["star"] = r.phase("build", plan)

    def tables():
        return {k: v for k, v in state["star"].items() if k != "clean"}

    def write_csv(r):
        def write():
            for name, df in tables().items():
                writers.write_csv(df, d("csv", name))
        r.phase("sink", write)

    def stream(r):
        def go():
            src = (r.spark.readStream.schema(_stream_schema())
                   .option("maxFilesPerTrigger", 1)
                   .json(os.path.join(star_dir, "stream_json")))
            q = incremental_star_stream(r.spark, src, d("stream"), d("stream_ckpt"))
            if not q.awaitTermination(STREAM_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"star stream still running after {STREAM_TIMEOUT_S} s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress
        return r.phase("stream", go)

    def check_sinks(_results):
        return star_sink_mismatch(state, out_dir, star_dir)

    return [
        Op("read_json", "sources", read),
        Op("star_build", "etl", build),
        Op("write_csv", "sources", write_csv, check_sinks),
        Op("star_stream", "streaming", stream),
    ]


def star_sink_mismatch(state: dict, out_dir: str, star_dir: str) -> str | None:
    """Every sink must equal the batch build per table (rows, key checksum),
    and the stream output must equal the stream's own input records."""
    import csv
    from functools import reduce

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    keyed = [
        state["star"][name].select(F.lit(name).alias("t"), F.col(key).cast("string").alias("k"))
        for name, key in STAR_KEYS.items()
    ]
    pairs = reduce(lambda a, b: a.unionByName(b), keyed).collect()
    want = {name: checks.rollup(k for t, k in pairs if t == name) for name in STAR_KEYS}
    for name, key in STAR_KEYS.items():
        keys = []
        for p in sorted(glob.glob(os.path.join(out_dir, "csv", name, "part-*"))):
            with open(p, newline="", encoding="utf-8") as f:
                keys += [row[key] for row in csv.DictReader(f)]
        got = checks.rollup(keys)
        if got != want[name]:
            return f"csv/{name}: (rows, checksum) {got} != batch build {want[name]}"
    recs = []
    for p in sorted(glob.glob(os.path.join(star_dir, "stream_json", "*.json"))):
        with open(p, encoding="utf-8") as f:
            recs += [json.loads(line) for line in f]
    authored = {(r["doi"], a) for r in recs for a in r["authors"]}
    tagged = {(r["doi"], k) for r in recs for k in r["keywords"]}
    want_stream = {
        "articles": checks.rollup(r["doi"] for r in recs),
        "topics": checks.rollup({r["topic"] for r in recs}),
        "authors": checks.rollup({a for _, a in authored}),
        "author_article_map": checks.rollup(doi for doi, _ in authored),
        "keywords": checks.rollup({k for _, k in tagged}),
        "keyword_article_map": checks.rollup(doi for doi, _ in tagged),
    }
    for name, key in STREAM_KEYS.items():
        keys = pq.read_table(os.path.join(out_dir, "stream", name), columns=[key])
        got = checks.rollup(keys.column(0).to_pylist())
        if got != want_stream[name]:
            return f"stream/{name}: (rows, checksum) {got} != input {want_stream[name]}"
    return None


# ---------------------------------------------------------------------------
# Workload assembly
# ---------------------------------------------------------------------------

@dataclass
class Workload:
    name: str
    ops: list[Op]
    manifest: dict  # rows and bytes per input
    out_dir: str | None = None  # per-pass outputs, emptied between passes
    input_bytes: int = 0  # raw input bytes: the star ETL's article JSON

    def reset(self) -> None:
        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            os.makedirs(self.out_dir)


def build_workload(name: str, spark, cache_root: str, work_root: str, seed: int,
                   sizes: dict | None = None) -> Workload:
    kind, size = (sizes or SIZES)[name]
    sf_dir, manifest = inputs.build(cache_root, kind, seed, **size)
    reg = _registry()
    if name == "corpus_10x":
        return Workload(name, [registry_op(reg[n], sf_dir) for n in CORPUS_ROWS], manifest)
    if name == "train_serve_etl":
        ops = [trainer_op(n, m, f, sf_dir) for n, m, f in TRAINERS]
        ops += [registry_op(reg[n], sf_dir) for n in SERVE_ROWS]
        star_dir = os.path.join(sf_dir, inputs.STAR_SUBDIR)
        manifest = dict(manifest, **render_star_inputs(
            spark, star_dir, manifest[f"{inputs.STAR_SUBDIR}/documents"]["rows"]))
        out_dir = os.path.join(work_root, "star_out")
        ops += star_ops(star_dir, out_dir)
        return Workload(name, ops, manifest, out_dir,
                        manifest["articles_json"]["bytes"] + manifest["stream_json"]["bytes"])
    raise ValueError(f"unknown workload {name!r}")
