"""The corpus DAG of the batch workload.

Archive bytes to corpus manifest and crawl list, as a batch user runs
it: every step goes through `plans.pipeline.PipelineTask` and commits
its output under a fresh workdir, and `run_pass` checks that each step
really ran rather than finding an earlier output. The span around each
step is named after the public function the step calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from commoncrawl_crawler_spark.functions import html, urls
from commoncrawl_crawler_spark.operators import (
    corpus,
    crawldb,
    crawllist,
    dedup,
    webgraph,
)
from commoncrawl_crawler_spark.plans.pipeline import PipelineStep, PipelineTask
from commoncrawl_crawler_spark.sources import archive, load_table
from commoncrawl_crawler_spark.streaming import jobs

# (step, span name); the order is the DAG's topological order
STEPS = (
    ("warc", "sources.archive.write_warc"),
    ("wet", "sources.archive.wet_records"),
    ("outlinks", "functions.html.extract_links_tiered_udf"),
    ("host_graph", "operators.webgraph.host_graph"),
    ("clusters", "operators.dedup.md5_simhash_clusters"),
    ("corpus", "operators.corpus.corpus_build_manifest"),
    ("crawldb", "operators.crawldb.merge_crawldb_from_events"),
    ("crawllist", "operators.crawllist.generate_crawl_list"),
    ("stream_stats", "streaming.jobs.run_available_now"),
)

# committed step output -> the __spark_entry__ gate whose oracle checks it
ORACLES = {
    "corpus": "pipeline_corpus_build",
    "crawldb": "crawldb_merge",
    "crawllist": "crawllist_generate",
    "stream_stats": "stream_windowed_stats",
}

_HOST = r"^[a-z][a-z0-9+.-]*://([^/?#:]+)"


def _warc_rows(documents: DataFrame) -> DataFrame:
    """Documents rendered as HTML pages inside HTTP responses inside
    WARC response records: one in-host link, one cross-host link and
    one iframe per page; every tenth page is a 404."""
    did = F.col("doc_id").cast("string")
    html_page = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title></head><body><p>"), F.col("text"),
        F.lit('</p><a href="http://'), F.col("source"),
        F.lit(".example.com/w/"), did,
        F.lit('?utm_source=x#top">self</a><a href="HTTP://SRC'),
        (F.col("doc_id") * 7 % 20).cast("string"),
        F.lit('.Example.com:80/w/'), did,
        F.lit('">next</a><iframe src="http://frame.'), F.col("source"),
        F.lit('.net/"></iframe></body></html>'),
    )
    block = F.encode(
        F.concat(
            F.lit("HTTP/1.1 "),
            F.when(F.col("doc_id") % 10 == 0, F.lit("404 Not Found")).otherwise(
                F.lit("200 OK")
            ),
            F.lit("\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
            html_page,
        ),
        "UTF-8",
    )
    return documents.select(
        F.lit("response").alias("warc_type"),
        F.concat(F.lit("<urn:uuid:"), did, F.lit(">")).alias("record_id"),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/w/"), did
        ).alias("target_uri"),
        F.format_string(
            "2024-04-%02dT%02d:%02d:00Z",
            F.col("doc_id") % 28 + 1,
            F.col("doc_id") % 24,
            F.col("doc_id") % 60,
        ).alias("warc_date"),
        F.lit("application/http; msgtype=response").alias("content_type"),
        block.alias("block"),
    )


def build_task(spark: SparkSession, data_dir: str, workdir: str) -> PipelineTask:
    """The corpus DAG over the tables in `data_dir`, committing under
    `workdir`."""
    par = spark.sparkContext.defaultParallelism
    warc_dir = f"{workdir}/warc_archives"

    def table(name: str) -> DataFrame:
        return load_table(spark, name, data_dir)

    def write_warc(s, deps):
        # the input is one parquet file, so one scan task; spread the
        # render + gzip over the cores before the archive writer
        archive.write_warc(
            _warc_rows(table("documents")).repartition(par),
            warc_dir,
            rotate_bytes=256 * 1024,
        )
        files = s.read.format("binaryFile").load(f"{warc_dir}/*{archive.WARC_SUFFIX}")
        return files.select("path", "length")

    def wet(s, deps):
        return archive.wet_records(archive.read_warc(s, warc_dir))

    def outlinks(s, deps):
        pages = archive.warc_http_responses(archive.read_warc(s, warc_dir)).filter(
            F.col("status_code") == 200
        )
        links = pages.select(
            F.regexp_extract(F.lower("target_uri"), _HOST, 1).alias("src_host"),
            F.explode(
                html.extract_links_tiered_udf(F.decode("body", "UTF-8"))
            ).alias("l"),
        )
        return links.select(
            "src_host",
            urls.canonicalize_url_expr(F.col("l")["url"]).alias("url"),
        ).select(
            "src_host",
            "url",
            F.regexp_extract("url", _HOST, 1).alias("dst_host"),
        ).filter(F.col("dst_host") != "")

    def host_graph(s, deps):
        return webgraph.host_graph(deps["outlinks"])

    def clusters(s, deps):
        return dedup.md5_simhash_clusters(table("documents"), hamming_k=3)

    def corpus_manifest(s, deps):
        return corpus.corpus_build_manifest(
            table("documents"), clusters=deps["clusters"]
        )

    def crawldb_merge(s, deps):
        return crawldb.merge_crawldb_from_events(table("events"))

    def crawl_list(s, deps):
        return crawllist.generate_crawl_list(table("orders"))

    def stream_stats(s, deps):
        return jobs.run_available_now(
            jobs.windowed_event_stats(jobs.read_events_stream(s, data_dir)),
            "perfbench_winstats",
        )

    builds = {
        "warc": (write_warc, ()),
        "wet": (wet, ("warc",)),
        "outlinks": (outlinks, ("warc",)),
        "host_graph": (host_graph, ("outlinks",)),
        "clusters": (clusters, ()),
        "corpus": (corpus_manifest, ("clusters",)),
        "crawldb": (crawldb_merge, ()),
        "crawllist": (crawl_list, ()),
        "stream_stats": (stream_stats, ()),
    }
    task = PipelineTask(workdir)
    for name, _ in STEPS:
        build, deps = builds[name]
        task.add(PipelineStep(name, build, deps))
    return task


def run_pass(spark, tracer, data_dir: str, workdir: str) -> list[float]:
    """One DAG run; returns each step's wall time. Each step is
    committed by `run_step`, which finds its dependencies already
    complete and runs only that step."""
    task = build_task(spark, data_dir, workdir)
    times: list[float] = []
    with tracer.span("plans.pipeline.PipelineTask.run"):
        for name, span in STEPS:
            with tracer.timed(span, times):
                task.run_step(spark, name)
            if task.last_executed != [name]:
                raise RuntimeError(
                    f"step {name} ran {task.last_executed}: the workdir was not fresh"
                )
    return times
