"""The benchmark's workloads.

  crawl_sf01     the batch dedup pipeline over the sf0.1 corpus: 7,498 pages,
                 all six edge sources, connected components.
  wayback_serve  the reference's service path: the incremental (streaming)
                 signature drain of the corpus replicated 4x (29,568 pages)
                 and the index build, then a closed loop of point, year and
                 diff lookups on that index.

A run sets up, runs its write job once and checks the outputs, in one
process on local[4]. The write job is the first job of its kind in the
process, as a spark-submit user pays for it. The read phase stands for a
service that has just gone live: it starts after a fixed warm-up of lookups
and then runs for the run's seconds.
"""

from __future__ import annotations

import base64
import math
import os
import random
import statistics
import struct
import sys
import time
from collections import Counter

from instruments import EventLog, Tracer

CORES = 4
SETUPS = 3            # set-ups per run; setup_s is their median
WARMUP_LOOKUPS = 8    # untimed lookup triples before the read phase
KERNEL_SAMPLE = 512   # distinct html docs timed through the kernels
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Outputs every seed must reproduce: the corpus is a pure function of
# data/documents.parquet, the seed only moves rows between partitions.
CRAWL_PAGES = 7498
CRAWL_CLUSTERS = 4448
CRAWL_PAIRS = {"exact": 715, "samesim": 178, "lsh": 1022,
               "pigeonhole": 390, "substring": 280, "embedding": 928}
SERVE_REPLICAS = 4
# the corpus without its embedding-only variants (7,392 pages), 4 times
SERVE_PAGES = 7392 * SERVE_REPLICAS


class Run:
    """One benchmark run: its Spark session, spans and outcome counters."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = \
            seed, seconds, trace, work
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.lookups: list[tuple[str, float, float]] = []  # kind, start, end

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- set-up ------------------------------------------------------------
    def start_session(self):
        from wdd.session import get_spark
        conf = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", cpus=CORES, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self, stage):
        """SETUPS times: start a session, stage the input. The first start
        launches the JVM; later ones reuse it. Keeps the last session."""
        samples = []
        staged = None
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup"):
                with self.tracer.span("setup.session"):
                    self.spark = self.start_session()
                with self.tracer.span("setup.stage_input"):
                    staged = stage(i)
            samples.append((self.tracer.seconds("setup.session"),
                            self.tracer.seconds("setup.stage_input")))
        self.e2e["setup_s"] = (statistics.median(a + b for a, b in samples),
                               "s")
        self.layer["setup.session_s"] = (
            statistics.median(a for a, _ in samples), "s")
        self.layer["setup.stage_input_s"] = (
            statistics.median(b for _, b in samples), "s")
        self.layer["setup.first_s"] = (sum(samples[0]), "s")
        return staged

    # -- read phase --------------------------------------------------------
    @staticmethod
    def captures_of(simhashes) -> dict[str, list[tuple[str, int]]]:
        """url -> sorted (ts14, simhash64): the answers lookups must give."""
        from pyspark.sql import functions as F
        captures: dict[str, list[tuple[str, int]]] = {}
        for r in simhashes.select(
                "url", F.date_format("warc_ts", "yyyyMMddHHmmss"),
                "simhash64").collect():
            captures.setdefault(r[0], []).append((r[1], r[2]))
        for caps in captures.values():
            caps.sort()
        return captures

    def serve(self, captures, index_dir: str) -> None:
        """Closed-loop point, year and diff lookups from one client. Keys
        are drawn uniformly over the indexed captures, so the hot domain
        keeps its 25% share; each answer is checked against `captures`."""
        from wdd.operators import lookup as LK

        keys = sorted((url, ts) for url, caps in captures.items()
                      for ts, _ in caps)
        rng = random.Random(self.seed)
        index = self.spark.read.parquet(index_dir)
        # start the service on a collected heap, not on the write job's
        # garbage, so that each run's lookups begin from the same state
        self.spark.sparkContext._jvm.System.gc()

        def b64(sim: int) -> str:
            return base64.b64encode(struct.pack("<q", sim)).decode("ascii")

        def point(url, ts):
            want = {"simhash": b64(dict(captures[url])[ts])}
            return LK.timestamp_simhash(index, url, ts) == want

        def year(url, ts):
            caps = [[t, b64(s)] for t, s in captures[url] if t[:4] == ts[:4]]
            return LK.year_simhash(index, url, ts[:4]) == [caps, len(caps)]

        def diff(url, ts):
            caps = [(t, s) for t, s in captures[url] if t[:4] == ts[:4]]
            want = sorted((ta, tb, bin((sa ^ sb) & (2**64 - 1)).count("1"))
                          for i, (ta, sa) in enumerate(caps)
                          for tb, sb in caps[i + 1:])
            got = LK.capture_diff_matrix(index, url, ts[:4]).collect()
            return sorted(tuple(r) for r in got) == want

        lat: dict[str, list[float]] = {"point": [], "year": [], "diff": []}
        ops = (("point", point), ("year", year), ("diff", diff))
        with self.tracer.span("lookup.warmup"):
            for _ in range(WARMUP_LOOKUPS):
                url, ts = rng.choice(keys)
                for kind, op in ops:
                    self._lookup(kind, op, url, ts, None)
        with self.tracer.span("lookup.closed_loop"):
            t_end = time.perf_counter() + self.seconds
            while time.perf_counter() < t_end:
                url, ts = rng.choice(keys)
                for kind, op in ops:
                    self._lookup(kind, op, url, ts, lat[kind])
        for kind, samples in lat.items():
            self.layer[f"lookup.{kind}_p50_ms"] = (
                statistics.median(samples) * 1e3, "ms")

    def _lookup(self, kind, op, url, ts, samples) -> None:
        t0, w0 = time.perf_counter(), time.time()
        try:
            ok = op(url, ts)
        except Exception as exc:   # a lookup that raises counts as failed
            print(f"{kind} lookup {url} {ts} raised {exc!r}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        self.check(ok, f"{kind} lookup {url} {ts}")
        if samples is not None:
            samples.append(dt)
            self.lookups.append((kind, w0, w0 + dt))

    def build_index(self, simhashes, index_dir: str) -> None:
        from wdd.pipeline import build_simhash_index
        with self.tracer.span("index.build_write"):
            build_simhash_index(simhashes).write.parquet(index_dir)
        files = [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
        self.layer["index.build_write_s"] = (
            self.tracer.seconds("index.build_write"), "s")
        self.layer["index.files"] = (len(files), "count")
        self.layer["index.mb"] = (sum(os.path.getsize(
            os.path.join(index_dir, f)) for f in files) / 2**20, "MB")

    # -- traced-only layer probes ------------------------------------------
    def probe_kernels_and_udf(self, html_frame) -> None:
        """Kernels: single-thread calls on a fixed sample of distinct html,
        the same sequence make_signatures_udf runs per Arrow batch. UDF: the
        fused signature UDF over every distinct digest, to a noop sink."""
        from pyspark.sql import functions as F
        from wdd import udfs
        from wdd.config import DEFAULT
        from wdd.kernels import extract, minhash, simhash

        uniq = (html_frame.select(F.sha1("html").alias("digest"), "html")
                .dropDuplicates(["digest"])
                .repartition(max(self.spark.sparkContext.defaultParallelism,
                                 32))
                .localCheckpoint(eager=True))
        n_distinct = uniq.count()
        htmls = [r.html for r in uniq.orderBy("digest")
                 .limit(KERNEL_SAMPLE).collect()]
        runs: dict[str, list[float]] = {}
        for _ in range(3):
            t = [time.perf_counter()]
            texts = [extract.extract_text(h) for h in htmls]
            t.append(time.perf_counter())
            feats = [dict(Counter(x.split())) if x else {} for x in texts]
            t.append(time.perf_counter())
            simhash.simhash64_batch(feats, hash_name=DEFAULT.simhash_hash)
            t.append(time.perf_counter())
            minhash.minhash_batch(texts)
            t.append(time.perf_counter())
            for name, a, b in zip(("extract", "features", "simhash",
                                   "minhash"), t, t[1:]):
                runs.setdefault(name, []).append((b - a) / len(htmls) * 1e6)
        kernel_us = 0.0
        for name, vals in runs.items():
            self.layer[f"kernels.{name}_us"] = (statistics.median(vals), "us")
            kernel_us += statistics.median(vals)

        fused = udfs.make_signatures_udf(DEFAULT.simhash_size,
                                         DEFAULT.simhash_hash)
        with self.tracer.span("udfs.signatures"):
            uniq.select("digest", fused("html").alias("x")) \
                .write.format("noop").mode("overwrite").save()
        sig_s = self.tracer.seconds("udfs.signatures")
        self.layer["udfs.signatures_s"] = (sig_s, "s")
        self.layer["udfs.overhead_s"] = (
            sig_s - n_distinct * kernel_us / 1e6 / CORES, "s")
        uniq.unpersist()

    def event_log_metrics(self, app_id: str, job_span: str) -> None:
        log = EventLog(EventLog.find(self.path("eventlog"), app_id))
        rec = next(s for s in reversed(self.tracer.spans)
                   if s["name"] == job_span)
        for key, val in log.phase(rec["start"], rec["end"]).items():
            unit = ("count" if key in ("jobs", "stages", "tasks") else
                    "ratio" if key == "task_skew" else
                    "MB" if key.endswith("_mb") else "s")
            self.layer[f"pipeline.{key}"] = (val, unit)
        for kind in ("point", "year", "diff"):
            spans = [(a, b) for k, a, b in self.lookups if k == kind]
            jobs = [j for a, b in spans for j in log.jobs_between(a, b)]
            n = max(len(spans), 1)
            self.layer[f"lookup.{kind}_jobs"] = (len(jobs) / n, "jobs/query")
            self.layer[f"lookup.{kind}_input_kb"] = (
                sum(t["input"] for t in log.tasks_of(jobs)) / 1024 / n,
                "KB/query")


def _seeded_layout(df, seed: int, parts: int):
    """The seed picks each row's partition and its order inside it."""
    from pyspark.sql import functions as F
    return (df.repartition(parts, F.xxhash64("url", "warc_ts", F.lit(seed)))
            .sortWithinPartitions(F.xxhash64("url", "warc_ts",
                                             F.lit(seed + 1))))


def _replicate_pages(pages, replicas: int):
    """Content-distinct copies, built as bench.py builds its scaling corpus:
    every token gets a per-replica suffix, so no shingle crosses replicas
    and each copy keeps the corpus's own duplicate structure."""
    from pyspark.sql import functions as F
    out = pages.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep"))
    suffix = F.concat(F.lit("xr"), F.col("rep").cast("string"))
    text = F.concat_ws(" ", F.transform(F.split("text", " "),
                                        lambda w: F.concat(w, suffix)))
    return out.select(
        F.concat("url", F.lit("?rep="), F.col("rep").cast("string"))
        .alias("url"),
        F.timestamp_seconds(F.unix_timestamp("warc_ts") + F.col("rep"))
        .alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body><p>"), text,
                          F.lit("</p></body></html>")), "UTF-8").alias("html"),
        text.alias("text"),
        "lang")


def crawl_sf01(run: Run) -> None:
    from pyspark.sql import functions as F
    from wdd.pipeline import run_dedup_pipeline
    from wdd.sources.pages import synth_pages

    def stage(_):
        pages, truth = synth_pages(run.spark, DATA_DIR, with_embeddings=True)
        pages = _seeded_layout(
            pages.select("url", "warc_ts", "html", "embedding"),
            run.seed, 4 * CORES).localCheckpoint(eager=True)
        return pages, truth.localCheckpoint(eager=True)

    pages, truth = run.set_up(stage)
    spark = run.spark
    clusters_dir = run.path("clusters")
    with run.tracer.span("job"):
        res = run_dedup_pipeline(spark, pages, eager_stages=False)
        res.clusters.write.parquet(clusters_dir)
    job_s = run.tracer.seconds("job")
    run.check(True, "dedup job")   # it raises if it fails

    clusters = spark.read.parquet(clusters_dir)
    counts = clusters.agg(F.count("*").alias("n"),
                          F.countDistinct("cluster_id").alias("c")).first()
    run.check(counts.n == CRAWL_PAGES, f"{counts.n} pages clustered")
    run.check(counts.c == CRAWL_CLUSTERS, f"{counts.c} clusters")
    cl = clusters.select("url", "warc_ts", "cluster_id")
    hits = (truth
            .join(cl.toDF("url_a", "ts_a", "c_a"), ["url_a", "ts_a"])
            .join(cl.toDF("url_b", "ts_b", "c_b"), ["url_b", "ts_b"])
            .agg(F.count("*").alias("n"),
                 F.sum((F.col("c_a") == F.col("c_b")).cast("int"))
                 .alias("hit")).first())
    run.check(hits.n > 0 and hits.hit == hits.n,
              f"dup-pair recall {hits.hit}/{hits.n}")
    pairs = {r.source: r["count"] for r in
             res.candidate_pairs.groupBy("source").count().collect()}
    run.check(pairs == CRAWL_PAIRS, f"pairs by source {pairs}")

    run.e2e["job_wall_s"] = (job_s, "s")
    run.e2e["pages_per_s"] = (CRAWL_PAGES / job_s, "pages/s")
    for src in CRAWL_PAIRS:
        run.layer[f"pipeline.pairs.{src}"] = (pairs.get(src, 0), "count")
    run.layer["pipeline.cc_iterations"] = (res.cc_iterations, "count")

    if run.trace:
        probe_operators(run, res, pages, pairs)
        run.probe_kernels_and_udf(res.pages)
    res.release()


def probe_operators(run: Run, res, pages, pairs: dict) -> None:
    """Time each edge source and CC standalone on the run's pinned frames:
    the pipeline runs its edge sources in threads that a job group set
    from outside does not reach, so they cannot be told apart inside it."""
    import uuid
    from pyspark.sql import functions as F
    from wdd.config import DEFAULT as cfg
    from wdd.operators import dedup as D
    from wdd.operators import lsh as L
    from wdd.operators import pigeonhole as P
    from wdd.operators.components import connected_components
    from wdd.operators.pairs import release_stage_caches
    from wdd.operators.similarity import cosine_dup_pairs
    from wdd.operators.substring import substring_candidates

    spark, span, layer = run.spark, run.tracer.span, run.layer
    token = f"perfbench-{uuid.uuid4().hex}"
    sigs = res.signatures
    rep_ids = res.pages.groupBy("digest").agg(F.min("page_id").alias("rep"))
    reps = rep_ids.join(sigs.select("digest", "simhash64", "signature"),
                        "digest").localCheckpoint(eager=True)
    nd_reps = reps.where(F.col("simhash64").isNotNull())

    with span("operators.lsh"):
        cand = L.lsh_candidates(nd_reps, id_col="rep", sig_col="signature",
                                cfg=cfg, cache_token=token) \
            .localCheckpoint(eager=True)
        n_cand = cand.count()
        n_ver = L.verify_jaccard(cand, reps.select("rep", "signature"),
                                 id_col="rep", sig_col="signature",
                                 threshold=cfg.jaccard_threshold).count()
    layer["operators.lsh_s"] = (run.tracer.seconds("operators.lsh"), "s")
    layer["operators.lsh_candidates"] = (n_cand, "count")
    layer["operators.lsh_verified"] = (n_ver, "count")
    layer["operators.lsh_yield"] = (n_ver / n_cand if n_cand else 0.0,
                                    "ratio")

    with span("operators.pigeonhole"):
        sim_pairs = P.pigeonhole_candidates(nd_reps, id_col="simhash64",
                                            cfg=cfg, cache_token=token)
        n_ph = P.simhash_pairs_to_page_pairs(
            sim_pairs, nd_reps, id_col="rep", sim_col="simhash64").count()
    layer["operators.pigeonhole_s"] = (
        run.tracer.seconds("operators.pigeonhole"), "s")
    layer["operators.pigeonhole_pairs"] = (n_ph, "count")

    rep_texts = sigs.join(reps.select("digest", "rep"), "digest") \
        .select(F.col("rep").alias("id"), "text") \
        .repartition(max(spark.sparkContext.defaultParallelism, 32))
    with span("operators.substring"):
        n_sub = substring_candidates(rep_texts, id_col="id", text_col="text",
                                     cfg=cfg, cache_token=token).count()
    layer["operators.substring_s"] = (
        run.tracer.seconds("operators.substring"), "s")
    layer["operators.substring_candidates"] = (n_sub, "count")
    # share of candidates no other source found first
    layer["operators.substring_yield"] = (
        pairs.get("substring", 0) / n_sub if n_sub else 0.0, "ratio")

    emb = D.with_page_id(pages.where(F.col("embedding").isNotNull())
                         .select("url", "warc_ts", "embedding"))
    demb = (emb.join(res.simhashes.select("page_id", "digest"), "page_id")
            .groupBy("digest")
            .agg(F.expr("min_by(embedding, xxhash64(url, warc_ts))")
                 .alias("embedding")))
    emb_reps = rep_ids.join(demb, "digest").select("rep", "embedding") \
        .localCheckpoint(eager=True)
    n_emb = emb_reps.count()
    dim = emb_reps.select(F.size("embedding")).first()[0]
    bits = min(16, max(8, math.ceil(math.log2(max(n_emb, 2)))))
    with span("operators.embedding"):
        n_cos = cosine_dup_pairs(
            emb_reps, threshold=cfg.cosine_dup_threshold, id_col="rep",
            vec_col="embedding", method="lsh", dim=dim, bits=bits,
            cache_token=token).count()
    layer["operators.embedding_s"] = (
        run.tracer.seconds("operators.embedding"), "s")
    layer["operators.embedding_pairs"] = (n_cos, "count")

    with span("operators.components"):
        cc = connected_components(
            res.candidate_pairs.where(F.col("source") != "exact")
            .select("a", "b"), reps.select(F.col("rep").alias("id")))
        cc.labels.write.format("noop").mode("overwrite").save()
    layer["operators.components_s"] = (
        run.tracer.seconds("operators.components"), "s")
    layer["operators.components_rounds"] = (cc.iterations, "count")
    release_stage_caches(token)


def wayback_serve(run: Run) -> None:
    from pyspark.sql import functions as F
    from wdd.sources.pages import synth_pages
    from wdd.streaming.ingest import run_incremental_simhash

    def stage(i):
        pages, _ = synth_pages(run.spark, DATA_DIR, with_truth=False)
        out = run.path(f"captures-{i}")
        _seeded_layout(_replicate_pages(pages, SERVE_REPLICAS),
                       run.seed, 4 * CORES).write.parquet(out)
        return out

    captures = run.set_up(stage)
    spark = run.spark
    sims_dir, index_dir = run.path("simhashes"), run.path("index")
    with run.tracer.span("job"):
        with run.tracer.span("streaming.drain"):
            run_incremental_simhash(spark, captures, sims_dir,
                                    run.path("stream-checkpoint"))
        run.build_index(spark.read.parquet(sims_dir), index_dir)
    job_s = run.tracer.seconds("job")
    run.check(True, "drain and index job")
    sims = spark.read.parquet(sims_dir)
    n = sims.agg(F.countDistinct("url", "warc_ts")).first()[0]
    run.check(n == SERVE_PAGES and sims.count() == SERVE_PAGES,
              f"{n} captures drained")

    run.e2e["job_wall_s"] = (job_s, "s")
    run.e2e["pages_per_s"] = (SERVE_PAGES / job_s, "pages/s")
    run.layer["streaming.drain_s"] = (run.tracer.seconds("streaming.drain"),
                                      "s")

    if run.trace:
        run.probe_kernels_and_udf(spark.read.parquet(captures))
    run.serve(run.captures_of(sims), index_dir)


WORKLOADS = {"crawl_sf01": crawl_sf01, "wayback_serve": wayback_serve}
