"""End-to-end pipeline: real operators composed through PipelineTask.

The domain-metadata lifecycle (SURVEY.md section 3.2) in miniature:
  edges  -> link_graph_edges(lineitem)
  rank   -> domain_rank(edges)           (depends on edges)
  stats  -> stats_aggregation            (independent branch)
  final  -> rank x top-stats join        (depends on rank, stats)
Re-running the task must skip every completed step (idempotent
restart, CrawlPipelineStep.isComplete analog) yet serve identical
outputs from the parquet handoffs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from commoncrawl_crawler_spark.operators import aggregates, graph
from commoncrawl_crawler_spark.plans.pipeline import PipelineStep, PipelineTask
from commoncrawl_crawler_spark.sources import load_table


def _build_task(workdir: str, sf: str, log: list) -> PipelineTask:
    def edges(s, deps):
        log.append("edges")
        return graph.link_graph_edges(load_table(s, "lineitem", sf))

    def rank(s, deps):
        log.append("rank")
        return graph.domain_rank(deps["edges"])

    def stats(s, deps):
        log.append("stats")
        return aggregates.stats_aggregation(
            load_table(s, "orders", sf), load_table(s, "customer", sf)
        )

    def final(s, deps):
        log.append("final")
        top = deps["rank"].orderBy(F.desc("domain_rank"), "dst").limit(10)
        return top.crossJoin(
            deps["stats"].agg(F.sum("order_count").alias("total_orders"))
        )

    return (
        PipelineTask(workdir)
        .add(PipelineStep("final", final, ("rank", "stats")))
        .add(PipelineStep("edges", edges))
        .add(PipelineStep("rank", rank, ("edges",)))
        .add(PipelineStep("stats", stats))
    )


def test_domain_metadata_pipeline_end_to_end(spark, tmp_path, sf_smoke):
    log: list = []
    task = _build_task(str(tmp_path), sf_smoke, log)
    out = task.run(spark)

    assert log.index("edges") < log.index("rank") < log.index("final")
    assert log.index("stats") < log.index("final")
    final_rows = out["final"].collect()
    assert len(final_rows) == 10
    assert all(r["total_orders"] > 0 for r in final_rows)
    # rank output matches running the operator directly (parquet
    # handoff is lossless)
    direct = graph.domain_rank(
        graph.link_graph_edges(load_table(spark, "lineitem", sf_smoke))
    )
    assert sorted(map(tuple, out["rank"].collect())) == sorted(
        map(tuple, direct.collect())
    )

    # restart: nothing re-executes, outputs still served
    log2: list = []
    again = _build_task(str(tmp_path), sf_smoke, log2).run(spark)
    assert log2 == []
    assert again["final"].count() == 10


def test_corpus_build_manifest_composition(spark):
    """The composed hygiene chain drops benchmark docs, contaminated
    docs, non-representative cluster members, and under-floor docs --
    and nothing else."""
    from pyspark.sql import Row
    from commoncrawl_crawler_spark.operators import corpus

    long_txt = " ".join(f"w{i}" for i in range(30))
    # doc 0: benchmark (0 % 5 == 0); doc 6 copies it -> contaminated
    # docs 2,3: near-dup cluster, 3 longer -> 3 is representative
    # doc 4: under the 20-token floor
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, source="s0", text=long_txt),
            Row(doc_id=6, source="s1", text=long_txt + " tail tail2"),
            Row(doc_id=2, source="s1", text=" ".join(f"a{i}" for i in range(25))),
            Row(doc_id=3, source="s2", text=" ".join(f"a{i}" for i in range(28))),
            Row(doc_id=4, source="s3", text="too short"),
            Row(doc_id=7, source="s3", text=" ".join(f"b{i}" for i in range(22))),
            # doc 8 clusters with the LARGER benchmark doc 0: the
            # representative must be chosen among train members, so 8
            # survives (a benchmark doc must never evict a clean
            # training doc)
            Row(doc_id=8, source="s4", text=" ".join(f"c{i}" for i in range(21))),
        ]
    )
    clusters = spark.createDataFrame(
        [
            Row(doc_id=0, cluster=0),
            Row(doc_id=6, cluster=6),
            Row(doc_id=2, cluster=2),
            Row(doc_id=3, cluster=2),
            Row(doc_id=4, cluster=4),
            Row(doc_id=7, cluster=7),
            Row(doc_id=8, cluster=0),
        ]
    )
    out = {
        r.source: (r.docs, r.tokens)
        for r in corpus.corpus_build_manifest(
            docs, benchmark_mod=5, min_tokens=20, clusters=clusters
        ).collect()
    }
    # survivors: doc 3 (cluster rep, 28 tokens), doc 7 (22 tokens),
    # doc 8 (train rep of cluster 0 despite benchmark doc 0 being
    # longer). dropped: 0 (benchmark), 6 (contaminated), 2 (non-rep),
    # 4 (short)
    assert out == {"s2": (1, 28), "s3": (1, 22), "s4": (1, 21)}


def test_gate_output_invariants(spark, sf_smoke):
    """Cross-cutting invariants on real gate outputs (cheap whole-
    pipeline sanity beyond per-query oracles)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # chunking: chunks tile every document's tokens -- the last chunk
    # ends exactly at the doc's token count, consecutive chunks start
    # stride apart
    chunks = qs["text_chunking"](spark, sf_smoke).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rows] == list(range(len(rows)))
        # every chunk except the last is full-size
        assert all(r.n_tokens == 64 for r in rows[:-1])
        assert 1 <= rows[-1].n_tokens <= 64

    # politeness: offsets strictly increase with slot within a host
    pol = qs["crawllist_politeness"](spark, sf_smoke).collect()
    by_host = {}
    for r in pol:
        by_host.setdefault(r.domain, []).append(r)
    for host, rows in by_host.items():
        rows.sort(key=lambda r: r.slot)
        assert [r.slot for r in rows] == list(range(1, len(rows) + 1))
        offs = [r.scheduled_offset_ms for r in rows]
        assert offs == sorted(offs) and offs[0] == 0

    # audio frames: per-media frame counts tile n_samples exactly
    frames = qs["mm_audio_energy"](spark, sf_smoke).collect()
    per_media = {}
    for r in frames:
        per_media[r.media_id] = per_media.get(r.media_id, 0) + r.n
    for mid, total in per_media.items():
        assert total == 1024 + mid % 1024


def test_artifact_store_skips_rebuild_across_sessions(spark, tmp_path):
    """Shared-stage parquet artifacts (the 100 TB posture): a second
    consumer -- modeling a NEW session, which holds no in-memory
    cache -- must read the committed artifact without rebuilding."""
    from commoncrawl_crawler_spark.plans.pipeline import ArtifactStore

    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(100).select(
            F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
        )

    store1 = ArtifactStore(str(tmp_path / "artifacts"))
    df1 = store1.get_or_build(spark, "edges_x", build)
    assert builds["n"] == 1 and store1.last_built is True
    assert df1.count() == 100

    # a fresh store instance = a fresh session's view of the workdir
    store2 = ArtifactStore(str(tmp_path / "artifacts"))
    df2 = store2.get_or_build(spark, "edges_x", build)
    assert builds["n"] == 1 and store2.last_built is False  # no rebuild
    assert sorted(r["src"] for r in df2.collect()) == list(range(100))


def test_cached_shared_stages_use_artifact_dir(spark, tmp_path, sf_smoke, monkeypatch):
    """With SPARK_GRAFT_ARTIFACT_DIR set, the gate-shared edge table
    persists as a parquet artifact; clearing the in-process cache
    (modeling a restarted driver) reuses the files on disk."""
    import os

    import __spark_entry__ as entrymod

    art = str(tmp_path / "art")
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", art)
    entrymod._EDGE_CACHE.clear()
    e1 = entrymod._edges(spark, sf_smoke)
    n1 = e1.count()
    dirs = os.listdir(art)
    assert any(d.startswith("edges_") for d in dirs)

    entrymod._EDGE_CACHE.clear()  # "new driver": only disk survives
    before = builds_marker = os.path.getmtime(
        os.path.join(art, [d for d in dirs if d.startswith("edges_")][0], "_SUCCESS")
    )
    e2 = entrymod._edges(spark, sf_smoke)
    assert e2.count() == n1
    after = os.path.getmtime(
        os.path.join(art, [d for d in dirs if d.startswith("edges_")][0], "_SUCCESS")
    )
    assert after == before  # not rewritten
    entrymod._EDGE_CACHE.clear()


def test_pipeline_completion_check_works_on_non_os_path_uri(
    spark, tmp_path, sf_smoke
):
    """Step-skip and artifact reuse must survive an object-store-style
    workdir: with a file:// URI (Spark-writable, NOT an os.path), the
    second run must SKIP the completed step instead of silently
    rebuilding -- the exact failure os.path.exists caused on s3a."""
    import os

    from commoncrawl_crawler_spark.sources import load_table

    uri = f"file://{tmp_path}/pipe"
    calls = []

    def build(s, deps):
        calls.append(1)
        return load_table(s, "region", sf_smoke)

    task = PipelineTask(uri).add(PipelineStep("regions", build))
    task.run(spark)
    assert task.last_executed == ["regions"]
    assert not os.path.exists(f"{uri}/regions/_SUCCESS")  # not an OS path
    again = PipelineTask(uri).add(PipelineStep("regions", build))
    out = again.run(spark)
    assert again.last_executed == []  # skipped: completion seen via URI
    assert len(calls) == 1
    assert out["regions"].count() == 5


def _dirs_under(path) -> list[str]:
    import os

    return sorted(
        e for e in os.listdir(path) if os.path.isdir(os.path.join(path, e))
    )


def test_commit_loses_race_to_concurrent_winner(spark, tmp_path):
    """A second committer finishing between this commit's _SUCCESS
    check and its rename wins: both callers read the same committed
    rows, nothing nests inside the committed dir and no staging dir
    is left behind. The race is made deterministic by committing the
    winner from inside the loser's own build."""
    from commoncrawl_crawler_spark.plans.pipeline import ArtifactStore

    def rows():
        return spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )

    winner = {}

    def build():
        store = ArtifactStore(str(tmp_path))
        winner["df"] = store.get_or_build(spark, "shared", rows)
        winner["built"] = store.last_built
        return rows()

    loser = ArtifactStore(str(tmp_path))
    df = loser.get_or_build(spark, "shared", build)
    assert winner["built"] is True and loser.last_built is False
    expected = sorted(map(tuple, rows().collect()))
    assert sorted(map(tuple, df.collect())) == expected
    assert sorted(map(tuple, winner["df"].collect())) == expected
    assert _dirs_under(tmp_path / "shared") == []
    assert _dirs_under(tmp_path) == ["shared"]


def test_leftover_without_success_marker_is_rebuilt(spark, tmp_path):
    """A crash under a write-in-place commit can leave the final dir
    with data files but no _SUCCESS: the next commit must replace it
    with its own complete build, not trust or merge it."""
    import os

    from commoncrawl_crawler_spark.plans.pipeline import ArtifactStore

    final = tmp_path / "art"
    spark.range(1000, 1007).write.parquet(str(final))
    os.remove(final / "_SUCCESS")

    store = ArtifactStore(str(tmp_path))
    df = store.get_or_build(spark, "art", lambda: spark.range(5))
    assert store.last_built is True
    assert sorted(r["id"] for r in df.collect()) == list(range(5))
    assert (final / "_SUCCESS").exists()
    assert _dirs_under(tmp_path) == ["art"]
