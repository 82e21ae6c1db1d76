"""The benchmark's operation families, driven only through the engine's
public functions.

Each family owns its generated inputs under one work directory, a warm-up,
an untraced operation and a traced form of the same operation whose spans
wrap the public calls it is made of.

  etl      plans.pipeline.write_processed over the 10x-inflated corpus
  queries  the ES-replacement registry queries at sf0.1 shape
  news     streaming.ingest.run_sentiment_stream over envelope poll files
  curated  streaming.full_pipeline.run_curated_ingest, then a cut of
           curated_epoch into its public parts, over (doc_id, text) drops
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from spans import Tracer

QUERY_MIX = (
    "sentiment_terms_agg",
    "term_query_positive",
    "keyword_search",
    "phrase_search",
    "bm25_search",
    "more_like_this",
    "hybrid_search_rrf",
    "freshness",
    "quality_rate",
    "anti_join_new_docs",
)
CORPUS_TABLES = ("documents", "embeddings", "events")
INFLATE = 10
# One 5-minute producer tick (one NewsAPI page and one GNews page) per
# micro-batch: the deployed stream runs trigger(processingTime="5 minutes")
# (streaming/ingest.py, SURVEY.md T1).
TICKS_PER_BATCH = 1
# Poll articles come from a 20,000-doc corpus, so ~200 micro-batches pass
# before re-fetches of wrapped-around docs start to add to the re-fetch share.
NEWS_DOCS = 20_000
NEWS_WARM_BATCHES = 10
DROP_DOCS = 500
# Docs whose scores are compared with the DuckDB oracle per ETL output
# (the oracle costs ~0.2 ms per doc on one core).
ORACLE_SAMPLE = 5000


def _dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet output, skipping Spark's
    underscore/dot-prefixed bookkeeping files."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Etl:
    """The hourly sentiment ETL over a corpus inflated INFLATE-fold."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf = f"{work}/sf"
        self.big = f"{work}/x{INFLATE}"
        self._oracle: dict[str, tuple[int, str]] = {}
        self._ops = 0

    def make_inputs(self) -> None:
        gen.write_inflated(self.big, gen.write_corpus(self.sf, self.seed), INFLATE)

    def warm_up(self, spark) -> None:
        """Nothing: the hourly ETL runs as a fresh job in a fresh session,
        so its batch pays JIT and code generation the way a deployed
        hourly run does."""

    def op(self, spark, sf_dir: str | None = None) -> tuple[float, list[tuple[float, int]], str]:
        """One full ETL batch. Returns (seconds, [(seconds, docs)], output
        path)."""
        from sentiment_analysis_data_pipeline_spark.plans.pipeline import write_processed

        self._ops += 1
        target = f"{self.work}/out-{self._ops}"
        t0 = time.perf_counter()
        write_processed(spark, sf_dir or self.big, target)
        dt = time.perf_counter() - t0
        return dt, [(dt, pq.read_metadata(f"{sf_dir or self.big}/documents.parquet").num_rows)], target

    def check(self, target: str, sf_dir: str | None = None) -> bool:
        """The landed table holds every input doc once, and its scores
        equal the DuckDB oracle of sentiment_scores row for row on a seeded
        sample of ORACLE_SAMPLE docs (all of them at 1x). Scores are per
        doc, so the oracle over the sample is exact for those docs."""
        sf_dir = sf_dir or self.big
        docs_path = f"{sf_dir}/documents.parquet"
        if sf_dir not in self._oracle:
            from __spark_entry__ import oracle_sql

            ids = pq.read_table(docs_path, columns=["doc_id"])["doc_id"].to_numpy()
            rng = np.random.default_rng(self.seed)
            sample = ids if len(ids) <= ORACLE_SAMPLE else rng.choice(ids, ORACLE_SAMPLE, replace=False)
            o = checks.Oracle(sf_dir, (), {"documents": (docs_path, set(sample.tolist()))})
            try:
                exp = o.expected("sentiment_scores", checks.scores_oracle_sql(oracle_sql()["sentiment_scores"]))
            finally:
                o.close()
            self._oracle[sf_dir] = (sorted(ids.tolist()), set(sample.tolist()), exp)
        ids, sample, exp = self._oracle[sf_dir]
        rows = checks.written_scores(target)
        picked = [r for r in rows if r["doc_id"] in sample]
        return sorted(r["doc_id"] for r in rows) == ids and (
            len(picked), checks.value_hash(picked)
        ) == exp

    def traced(self, spark, tr: Tracer, sf_dir: str) -> tuple[bool, float]:
        """One untraced write_processed first: it warms the session and
        gives the untraced wall. Then the batch cut at its public seams:
        scan + validate alone and the scored corpus (processed_docs) alone,
        both materialized to a noop sink, then write_processed again.
        Kernel time is the second cut minus the first; write time is the
        third minus the second. Returns (correct, untraced wall)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sentiment_analysis_data_pipeline_spark.functions import dialect as D
        from sentiment_analysis_data_pipeline_spark.functions import sentiment as S
        from sentiment_analysis_data_pipeline_spark.functions import text as TX
        from sentiment_analysis_data_pipeline_spark.operators import validate
        from sentiment_analysis_data_pipeline_spark.plans import pipeline

        untraced, _, target = self.op(spark, sf_dir)
        ok = self.check(target, sf_dir)
        obs = Observation("validate")
        with tr.span("sources.scan_validate"):
            articles = pipeline.documents_as_articles(spark, sf_dir)
            valid = articles.filter(
                validate.non_empty_text(F.col("text")) & validate.valid_url(F.col("url"))
            ).observe(obs, F.count(F.lit(1)).alias("n"))
            valid.write.format("noop").mode("overwrite").save()
        tr.count("validate.rows_kept", obs.get["n"])
        with tr.span("sentiment.processed_docs"):
            pipeline.processed_docs(spark, sf_dir).write.format("noop").mode("overwrite").save()
        with tr.span("pipeline.write_processed"):
            _, _, target = self.op(spark, sf_dir)
        ok &= self.check(target, sf_dir)

        docs_path = f"{sf_dir}/documents.parquet"
        _, in_bytes = _dir_bytes(docs_path)
        n_out, out_bytes = _dir_bytes(target)
        tr.count("sources.rows_in", pq.read_metadata(docs_path).num_rows)
        tr.count("pipeline.files_written", n_out)
        tr.count("pipeline.bytes_written_per_input_byte", out_bytes / in_bytes)
        # Exploded token rows against those the lexicon join keeps.
        toks = TX.tokenize(D.SPARK, "coalesce(text, '')")
        spark.read.parquet(docs_path).selectExpr(f"explode({toks}) AS t").createOrReplaceTempView(
            "perfbench_tokens"
        )
        hits = spark.sql(
            f"SELECT count(*) AS n, count(_lex.word) AS hit FROM perfbench_tokens "
            f"LEFT JOIN {S.lexicon_values_sql(D.SPARK)} ON perfbench_tokens.t = _lex.word"
        ).first()
        tr.count("sentiment.token_rows", hits["n"])
        tr.count("sentiment.lexicon_hit_frac", hits["hit"] / hits["n"])
        return ok, untraced


class Queries:
    """The ES-replacement query mix over an sf0.1-shaped table directory.
    The DuckDB oracles (~12 s for the whole mix on 4 cores) are evaluated
    once, on a background thread from `start_oracle` (the traced pass
    overlaps them with layers it is not tracing) or else at the first
    check."""

    def __init__(self, sf_dir: str):
        from __spark_entry__ import oracle_sql, queries

        self.sf = sf_dir
        self.fns, self.oracle_sql = queries(), oracle_sql()
        self._pool: ThreadPoolExecutor | None = None
        self._expected: Future | None = None

    def start_oracle(self) -> None:
        if self._expected is None:
            self._pool = ThreadPoolExecutor(1)
            self._expected = self._pool.submit(self._oracle)

    def _oracle(self) -> dict[str, tuple[int, str]]:
        o = checks.Oracle(self.sf, CORPUS_TABLES)
        try:
            return {n: o.expected(n, self.oracle_sql[n]) for n in QUERY_MIX}
        finally:
            o.close()

    def check(self, name: str, rows) -> bool:
        self.start_oracle()
        return checks.spark_rows_match(rows, self._expected.result()[name])

    def traced(self, spark, tr: Tracer, seed: int) -> list[tuple[str, list]]:
        """One round of the mix in a seeded order, each query split into
        build (the registry call: Python, view registration, eager
        checkpoints), plan (forcing the executed plan) and exec (collect).
        Returns [(name, rows)]."""
        out = []
        for i in np.random.default_rng(seed).permutation(len(QUERY_MIX)):
            name = QUERY_MIX[i]
            with tr.span(f"query.{name}.build"):
                df = self.fns[name](spark, self.sf)
            with tr.span(f"query.{name}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"query.{name}.exec"):
                rows = df.collect()
            tr.count(f"query.{name}.rows_out", len(rows))
            out.append((name, rows))
        return out

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(wait=True)


class News:
    """The composed EP1+EP2+EP3 stream (streaming.ingest.run_sentiment_stream)
    over poll files. Each operation writes the next TICKS_PER_BATCH ticks of
    poll files (one micro-batch), moves them into the source directory and
    drains them, so the URL anti-join runs against a sink that grows batch
    by batch. Only the move and the drain are timed."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.src = f"{work}/news-src"
        self.raw, self.proc = f"{work}/news-raw", f"{work}/news-processed"
        self.ckpt = f"{work}/news-ckpt"
        self.poller: gen.Poller | None = None
        self.urls: set[str] = set()
        self.envelopes = self.corrupt = 0

    def make_inputs(self) -> None:
        os.makedirs(self.src, exist_ok=True)
        self.poller = gen.Poller(gen.documents(self.seed, NEWS_DOCS), self.seed)

    def warm_up(self, spark, batches: int = NEWS_WARM_BATCHES) -> None:
        for _ in range(batches):
            self.op(spark)

    def op(self, spark) -> tuple[float, list[tuple[float, int]], list[dict]]:
        """Feed one micro-batch of files and drain it. Returns (wall
        seconds, [(batchDuration seconds, envelopes)], progress records)."""
        from sentiment_analysis_data_pipeline_spark.streaming.ingest import run_sentiment_stream

        batch = self.poller.poll(f"{self.work}/news-backlog", TICKS_PER_BATCH)
        urls, n, bad = gen.valid_urls(batch)
        self.urls |= urls
        self.envelopes += n
        self.corrupt += bad
        t0 = time.perf_counter()
        for p in batch:
            os.rename(p, f"{self.src}/{os.path.basename(p)}")
        q = run_sentiment_stream(spark, self.src, self.raw, self.proc, self.ckpt)
        try:
            q.awaitTermination()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return wall, [(p["batchDuration"] / 1000, p["numInputRows"]) for p in progress], progress

    def landed(self) -> tuple[list[str], list[str]]:
        return tuple(
            pq.read_table(path, columns=["url"])["url"].to_pylist() for path in (self.raw, self.proc)
        )

    def check(self, _progress=None) -> bool:
        """Every URL of a parsable envelope fed so far has landed exactly
        once in raw and in processed."""
        return all(len(got) == len(set(got)) and set(got) == self.urls for got in self.landed())

    def traced(self, spark, tr: Tracer, n_batches: int) -> tuple[bool, float]:
        """n_batches operations, each drain in a span. Per-batch stream
        phases come from StreamingQueryProgress.durationMs (medians over the
        batches), with landing counts. Returns (correct, median drain
        wall)."""
        raw_before = len(self.landed()[0]) if os.path.isdir(self.raw) else 0
        env_before, bad_before = self.envelopes, self.corrupt
        progress, walls, ok = [], [], True
        for _ in range(n_batches):
            with tr.span("news.drain"):
                wall, _, p = self.op(spark)
            walls.append(wall)
            progress += p
            ok &= self.check()
        for key, name in (
            ("addBatch", "add_batch"),
            ("latestOffset", "latest_offset"),
            ("getBatch", "get_batch"),
            ("queryPlanning", "query_planning"),
            ("walCommit", "wal_commit"),
        ):
            tr.count(
                f"stream.{name}_s",
                statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1000,
            )
        n_raw = len(self.landed()[0])
        tr.count("stream.input_rows", sum(p["numInputRows"] for p in progress))
        tr.count("stream.fresh_frac", (n_raw - raw_before) / (self.envelopes - env_before))
        tr.count("stream.corrupt_rows", self.corrupt - bad_before)
        tr.count("stream.sink_rows_end", n_raw)
        return ok, statistics.median(walls)


class Curated:
    """The composed curation + near-dup + sentiment stream of
    streaming.full_pipeline, from a bootstrapped corpus and band index
    (tools/stream_scale_probe.py). The first two drops go through the
    program's own run_curated_ingest, one epoch each: the first warms the
    session, the second gives the untraced wall. The third goes through a
    cut of curated_epoch into its public parts, for the per-layer
    figures."""

    SEED_IDS = (0, 1, 2, 3)

    def __init__(self, work: str, seed: int):
        self.work = work
        self.corpus = f"{work}/cur-corpus"
        self.pairs = f"{work}/cur-pairs"
        self.curated = f"{work}/cur-curated"
        self.table = f"perfbench_idx_{uuid.uuid4().hex[:8]}"
        self.drops = gen.curated_drops(f"{work}/cur-drops", seed, 3, DROP_DOCS)
        self.fed: set[int] = set()

    def bootstrap(self, spark) -> None:
        from sentiment_analysis_data_pipeline_spark.operators.dedup import minhash_band_keys
        from sentiment_analysis_data_pipeline_spark.sources.tables import write_bucketed
        from sentiment_analysis_data_pipeline_spark.streaming import dedup_stream

        rng = np.random.default_rng(0)
        seed_docs = spark.createDataFrame(
            [(i, " ".join(gen.BANK[j] for j in rng.permutation(len(gen.BANK))[:30])) for i in self.SEED_IDS],
            "doc_id long, text string",
        )
        seed_docs.write.parquet(self.corpus)
        write_bucketed(
            minhash_band_keys(seed_docs, "text", "doc_id"), self.table, "band_key", dedup_stream.INDEX_BUCKETS
        )

    def _feed(self, drop: str) -> None:
        with open(drop) as f:
            self.fed |= {json.loads(line)["doc_id"] for line in f}

    def op(self, spark, k: int) -> float:
        """Drop k through run_curated_ingest, drained as one availableNow
        epoch. Returns the wall seconds of the drain."""
        from sentiment_analysis_data_pipeline_spark.streaming.full_pipeline import run_curated_ingest

        drop = self.drops[k]
        self._feed(drop)
        src = f"{self.work}/cur-src"
        os.makedirs(src, exist_ok=True)
        t0 = time.perf_counter()
        os.rename(drop, f"{src}/{os.path.basename(drop)}")
        q = run_curated_ingest(
            spark, src, self.table, self.corpus, self.pairs, self.curated, f"{self.work}/cur-ckpt"
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall

    def traced(self, spark, tr: Tracer) -> None:
        """The last drop through the public parts of
        full_pipeline.curated_epoch, in its order, inside a "curated" span.
        An approximation of the epoch: the gated and scored frames are
        checkpointed inside their spans so each part's work lands in its
        own span, where the program computes the scores during the curated
        append."""
        from pyspark.sql import functions as F

        from sentiment_analysis_data_pipeline_spark.plans.pipeline import sentiment_enrich
        from sentiment_analysis_data_pipeline_spark.streaming.curation_stream import curation_gate
        from sentiment_analysis_data_pipeline_spark.streaming.dedup_stream import (
            DOC_STREAM_SCHEMA,
            append_to_band_index,
            dedup_micro_batch,
        )

        drop = self.drops[-1]
        self._feed(drop)
        batch_id = len(self.drops) - 1
        with tr.span("curated"):
            batch = spark.read.schema(DOC_STREAM_SCHEMA).json(drop)
            batch = batch.dropDuplicates(["doc_id"]).filter(F.col("text").isNotNull())
            seen = spark.read.parquet(self.corpus).select("doc_id")
            batch = batch.join(seen, "doc_id", "left_anti").localCheckpoint(eager=True)
            if not batch.take(1):
                raise RuntimeError("curated drop holds no new doc")
            with tr.span("curation.gate"):
                gated = curation_gate(batch).localCheckpoint(eager=True)
            kept = gated.filter("kept").select("doc_id", "text")
            with tr.span("dedup_stream.probe"):
                pairs = dedup_micro_batch(spark, kept, self.table, self.corpus)
                pairs.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(self.pairs)
            with tr.span("curated.sentiment"):
                scored = sentiment_enrich(gated).select(
                    "doc_id", "text", "too_short", "too_repetitive", "low_quality", "non_english", "kept",
                    F.struct("overall", "confidence", "vader_compound", "textblob_polarity").alias("sentiment"),
                ).localCheckpoint(eager=True)
            with tr.span("curated.land"):
                landed = spark.read.parquet(self.curated).select("doc_id")
                scored.join(landed, "doc_id", "left_anti").write.mode("append").parquet(self.curated)
            with tr.span("dedup_stream.index_append"):
                append_to_band_index(spark, kept, self.table)
            with tr.span("curated.land"):
                kept.write.mode("append").parquet(self.corpus)
        tr.count("curation.kept_frac", kept.count() / gated.count())
        tr.count("dedup_stream.pairs_out", spark.read.parquet(self.pairs).filter(F.col("batch_id") == batch_id).count())
        tr.count("dedup_stream.index_rows_end", spark.table(self.table).count())

    def check(self, spark) -> bool:
        """The stream_scale_probe state invariants, made exact: every doc
        fed so far lands once in the curated store; the doc store is the
        seed plus every kept doc, once each; the band index covers exactly
        the doc store."""
        # run_curated_ingest appends to the index through the stream's own
        # session; this session's cached file list of the table predates it.
        spark.catalog.refreshTable(self.table)
        cur = spark.read.parquet(self.curated).select("doc_id", "kept").collect()
        corpus = [r[0] for r in spark.read.parquet(self.corpus).select("doc_id").collect()]
        indexed = {r[0] for r in spark.table(self.table).select("doc").distinct().collect()}
        kept = {r[0] for r in cur if r[1]}
        return (
            len(cur) == len(self.fed) == len({r[0] for r in cur})
            and {r[0] for r in cur} == self.fed
            and len(corpus) == len(set(corpus))
            and set(corpus) == set(self.SEED_IDS) | kept
            and indexed == set(corpus)
        )

    def close(self, spark) -> None:
        from sentiment_analysis_data_pipeline_spark.sources.tables import drop_table_with_files

        drop_table_with_files(spark, self.table)
