"""Workload shapes and the operations the benchmark times.

Every workload is one process and one client in a closed loop: the next
operation starts when the previous one has returned and been checked.
An operation of ``crawl`` is one round: one whole crawl of each entry of
``CRAWLS`` in turn, each followed by an untimed ``resume()`` of its final
snapshot and the check. An operation of ``image_profile`` is one pass.
"""

from __future__ import annotations

import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))

# The synthetic web and crawl every round runs: one epoch from 500 seeds.
# Many seeds per host keep a crawl's size steady across seeds: URLs
# scheduled vary by ~3% (IQR/median over seeds 0-11). This is the oracle
# digest's cache key: change a value here and every cached digest is
# recomputed.
WEB = {
    "n_pages": 2_000,
    "n_hosts": 50,
    "seeds_per_host": 10,
    "epochs": 1,
    "epoch_ms": 600_000,
}

# The engine settings of the crawls of a round. The seen filter is only a
# prefilter and a commit only persists state, so every crawl of a round
# must reproduce the same oracle crawl.
CRAWLS = {
    # the engine's default path: bloom prefilter, localCheckpoint after
    # the epoch, the only commit made by the final run()
    "small_batch": {"seen_filter": "bloom", "commit_every": 3},
    # the write-heavy path: cuckoo prefilter, a commit inside every
    # run_epoch
    "durable": {"seen_filter": "cuckoo", "commit_every": 1},
}

IMAGE_SHAPE = {"n_images": 20_000, "n_hosts": 100}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log_dir: str | None = None):
    """A local[nproc] session; with *event_log_dir*, Spark writes its
    event log there, uncompressed and in one file."""
    from crawler_spark.session import get_spark

    java_opts = " ".join((
        f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
        f"-Dpb.jvmlog={work}/driver.log",
        f"-Djava.io.tmpdir={work}/tmp",
        "-XX:-UsePerfData",
    ))
    conf = {"spark.driver.extraJavaOptions": java_opts}
    if event_log_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    n = cpus()
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                     extra_conf=conf)


# ------------------------------------------------------------------ crawl


def crawl_web(seed: int):
    """(SynthConfig, seed URLs) of ``WEB``: the first ``seeds_per_host``
    pages of every host, so the first epoch is already wide."""
    from crawler_spark.synth import SynthConfig, url_of_index

    cfg = SynthConfig(seed=seed, n_pages=WEB["n_pages"], n_hosts=WEB["n_hosts"],
                      with_images=False)
    b = cfg.host_bounds
    seeds = [
        url_of_index(cfg, int(b[h]) + k)
        for h in range(cfg.n_hosts)
        for k in range(WEB["seeds_per_host"])
        if b[h] + k < b[h + 1]
    ]
    return cfg, seeds


class CrawlInputs:
    """The synthetic web written once to parquet, then read back cached,
    so generating it is not billed to any crawl."""

    def __init__(self, spark, seed: int, work: str):
        from crawler_spark.schema import ROBOTS_SCHEMA
        from crawler_spark.synth import corpus_df, robots_rows

        self.cfg, self.seeds = crawl_web(seed)
        path = os.path.join(work, "web")
        corpus_df(spark, self.cfg).write.mode("overwrite").parquet(path)
        self.corpus = spark.read.parquet(path).persist()
        self.corpus.count()
        self.robots = spark.createDataFrame(robots_rows(self.cfg), ROBOTS_SCHEMA)


def engine_config(name: str, ckpt: str):
    from crawler_spark.engine import EngineConfig

    return EngineConfig(
        max_epochs=WEB["epochs"], epoch_ms=WEB["epoch_ms"], checkpoint_dir=ckpt,
        commit_every=CRAWLS[name]["commit_every"], detailed_metrics=False,
        n_seen_buckets=32, track_paths=False,
        seen_filter=CRAWLS[name]["seen_filter"],
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def crawl(spark, web: CrawlInputs, name: str, ckpt: str, tracer=None) -> dict:
    """One crawl of ``WEB`` with the settings ``CRAWLS[name]`` through the
    engine's public calls; its spans are named ``<name>/<call>``. Timed:
    init_seeds to the final run() commit. Untimed afterwards: a fresh
    engine resume()s the final snapshot, and the rows the gate checks are
    read from it, so the check covers the commit and resume round trip
    too."""
    from crawler_spark.engine import CrawlEngine

    from perfbench.trace import maybe_span

    def span(call):
        return maybe_span(tracer, f"{name}/{call}")

    cfg = engine_config(name, ckpt)
    epoch_s: list = []
    t0 = time.perf_counter()
    eng = CrawlEngine(spark, web.corpus, web.robots, cfg)
    with span("init"):
        eng.init_seeds(web.seeds)
    for e in range(WEB["epochs"]):
        t = time.perf_counter()
        with span(f"e{e}"):
            eng.run_epoch()
        epoch_s.append(time.perf_counter() - t)
    with span("final"):
        eng.run()
    wall_s = time.perf_counter() - t0

    with span("resume"):
        eng = CrawlEngine(spark, web.corpus, web.robots, cfg)
        eng.resume()
    with span("check"):
        metrics = eng.metrics.collect()
        order = [(r.seq, r.url, r.epoch) for r in
                 eng.crawl_order.select("seq", "url", "epoch").orderBy("seq").collect()]
        seen = [r.url for r in eng.url_seen.select("url").collect()]
    return {
        "wall_s": wall_s,
        "epoch_s": epoch_s,
        "urls_scheduled": sum(m.urls_scheduled for m in metrics),
        "epochs_run": len(metrics),
        "order": order,
        "seen": seen,
        "ckpt_bytes": _dir_bytes(ckpt),
    }


# ------------------------------------------------------------------ images


class ImageInputs:
    """An image corpus in the input_hint schema, written once to parquet.
    ``expected`` is the row-set digest the profile must reproduce: the
    generator's own w, h and fmt, its phash on lossless (png) rows, and
    the md5 of the bytes."""

    def __init__(self, spark, seed: int, work: str):
        from pyspark.sql import functions as F

        from crawler_spark.synth import SynthConfig, corpus_df

        cfg = SynthConfig(seed=seed, n_pages=IMAGE_SHAPE["n_images"],
                          n_hosts=IMAGE_SHAPE["n_hosts"], with_images=True)
        path = os.path.join(work, "images")
        corpus_df(spark, cfg).select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
        ).write.mode("overwrite").parquet(path)
        self.images = spark.read.parquet(path)
        self.n = IMAGE_SHAPE["n_images"]
        ref = self.images.select(
            "image_id", F.col("w").alias("dec_w"), F.col("h").alias("dec_h"),
            F.col("fmt").alias("dec_fmt"), F.col("phash").alias("phash2"),
            F.md5("bytes").alias("byte_key"),
        )
        self.expected = tuple(ref.agg(*_row_set_digest()).collect()[0])


def _row_set_digest():
    """Order-free digest of profile rows: count plus the exact sum of a
    64-bit hash of each row's checked columns."""
    from pyspark.sql import functions as F

    h = F.xxhash64(
        "image_id", F.col("dec_w").cast("long"), F.col("dec_h").cast("long"),
        "dec_fmt",
        F.when(F.col("dec_fmt") == "png", F.col("phash2").cast("long")),
        "byte_key",
    )
    return [F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))]


def image_pass(images: ImageInputs) -> tuple:
    """One image_profile pass, forced by aggregating every output column.
    Returns (wall seconds, ok)."""
    from pyspark.sql import functions as F

    from crawler_spark.multimodal import image_profile

    t = time.perf_counter()
    row = image_profile(images.images).agg(
        *_row_set_digest(),
        F.sum("mean_px"), F.sum("std_px"), F.count("err"),
    ).collect()[0]
    wall = time.perf_counter() - t
    ok = tuple(row)[:2] == images.expected and row[3] is not None and row[4] == 0
    return wall, ok
