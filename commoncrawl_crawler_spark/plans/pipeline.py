"""Pipeline DAG driver: dependency-ordered, idempotent batch steps.

Reference (SURVEY.md section 3.2): CrawlPipelineTask
(mapred/pipelineV3/CrawlPipelineTask.java:42,331-349) runs an
ordered list of CrawlPipelineSteps; a step executes only if its
output directory (keyed by database timestamp) does not already
exist (CrawlPipelineStep.java:133-136,185-217) -- restart-safe
incremental pipelines.

Spark-first: a step is a function (spark, inputs) -> DataFrame whose
output is committed as parquet under <workdir>/<step> by
`commit_once`, the one "commit once, reuse after" path shared with
`ArtifactStore` and the query server's result cache
(`plans/query_api.py`). A miss is written to a hidden staging sibling
and moved into place with a no-clobber rename, so the final directory
appears whole (its `_SUCCESS` marker included) or not at all, and
concurrent misses on one path are safe: one rename wins and every
loser reads the winner. Catalyst plans each step; the driver is plain
topological ordering -- no scheduler machinery needed because Spark
handles all intra-step parallelism.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def _success_exists(path: str, spark: SparkSession) -> bool:
    """Scheme-aware _SUCCESS check, resolved through the Hadoop
    FileSystem API so completion is seen on ANY Spark-writable URI
    (s3a/abfss/hdfs/file) -- os.path.exists answers False off the
    local filesystem and every commit would silently rebuild."""
    p = spark._jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/_SUCCESS")
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def commit_once(
    spark: SparkSession, path: str, build: Callable[[], DataFrame]
) -> tuple[DataFrame, bool]:
    """Read the parquet committed at `path`, building and committing
    it first when absent. Returns (DataFrame, whether this call built).

    A miss writes `build()` to `<parent>/_staging-<name>-<uuid>` and
    moves it onto `path` with `FileContext.rename(Options.Rename.NONE)`,
    which refuses to clobber (`FileSystem.rename` instead nests the
    source inside an existing directory). A lost race reads the
    winner. Spark's listing skips `_`-prefixed names, so a staging dir
    is never read as data.
    """
    if _success_exists(path, spark):
        return spark.read.parquet(path), False
    gateway = spark.sparkContext._gateway
    conf = spark._jsc.hadoopConfiguration()
    hfs = gateway.jvm.org.apache.hadoop.fs
    final = hfs.Path(path)
    staging = hfs.Path(
        final.getParent(), f"_staging-{final.getName()}-{uuid.uuid4().hex}"
    )
    # the local filesystem checks the destination and renames in two
    # steps; a rename that loses the race in between falls back to a
    # copy that lands HERE, inside the winner, instead of raising
    nested = hfs.Path(final, staging.getName())
    fs = final.getFileSystem(conf)
    fc = hfs.FileContext.getFileContext(final.toUri(), conf)
    no_clobber = gateway.new_array(hfs.Options.Rename, 1)
    no_clobber[0] = hfs.Options.Rename.NONE

    def rename() -> bool:
        try:
            fc.rename(staging, final, no_clobber)
            return True
        except Py4JJavaError as exc:
            exists = "org.apache.hadoop.fs.FileAlreadyExistsException"
            if not is_instance_of(gateway, exc.java_exception, exists):
                raise
            return False

    try:
        build().write.parquet(staging.toString())
        moved = rename()
        if not moved and not _success_exists(path, spark):
            # a writer that committed in place crashed and left a
            # final dir without _SUCCESS: replace it, once
            fs.delete(final, True)
            moved = rename()
        built = moved and not fs.exists(nested)
    finally:
        fs.delete(staging, True)
        fs.delete(nested, True)
    return spark.read.parquet(path), built


@dataclass
class PipelineStep:
    """One named step; `build` receives the outputs of its deps as
    DataFrames keyed by step name."""

    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    deps: tuple[str, ...] = ()


@dataclass
class PipelineTask:
    """Dependency-ordered step runner with output-exists skipping."""

    workdir: str
    steps: list[PipelineStep] = field(default_factory=list)

    def add(self, step: PipelineStep) -> "PipelineTask":
        self.steps.append(step)
        return self

    def _toposort(self, roots: Iterable[str]) -> list[PipelineStep]:
        """`roots` and their dependency closure, dependencies first."""
        by_name = {s.name: s for s in self.steps}
        seen: dict[str, int] = {}  # 0=visiting, 1=done
        order: list[PipelineStep] = []

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"dependency cycle through step {name!r}")
            seen[name] = 0
            for d in by_name[name].deps:
                if d not in by_name:
                    raise ValueError(f"step {name!r} depends on unknown {d!r}")
                visit(d)
            seen[name] = 1
            order.append(by_name[name])

        for name in roots:
            if name not in by_name:
                raise ValueError(f"unknown step {name!r}")
            visit(name)
        return order

    def _run(
        self, spark: SparkSession, roots: Iterable[str]
    ) -> dict[str, DataFrame]:
        outputs: dict[str, DataFrame] = {}
        self.last_executed = []
        for step in self._toposort(roots):
            deps = {d: outputs[d] for d in step.deps}
            outputs[step.name], built = commit_once(
                spark,
                f"{self.workdir.rstrip('/')}/{step.name}",
                lambda: step.build(spark, deps),
            )
            if built:
                self.last_executed.append(step.name)
        return outputs

    def run_step(self, spark: SparkSession, name: str) -> DataFrame:
        """Run (or skip) a single step and its dependency closure --
        steps OUTSIDE the closure are untouched (no side effects for
        unrelated incomplete steps)."""
        return self._run(spark, [name])[name]

    def run(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Run incomplete steps in dependency order; return all step
        outputs (read back from parquet, so lineage is truncated at
        step boundaries exactly like the reference's HDFS handoffs).
        Returns the executed step names in `self.last_executed`."""
        return self._run(spark, [s.name for s in self.steps])


@dataclass
class ArtifactStore:
    """Cross-session parquet cache for shared derived tables.

    The 100 TB variant of a per-session `localCheckpoint` cache:
    expensive shared stages (link-graph edge tables, shingle/sketch
    tables, cluster labels) are committed once as parquet artifacts
    under <workdir>/<name> and every later consumer -- including a
    NEW SparkSession, days later -- reads them back instead of
    rebuilding, exactly how the reference points downstream jobs at a
    prior step's HDFS output keyed by database timestamp
    (CrawlPipelineStep.java:133-136,185-217).

    Commits go through `commit_once`: a build is staged in a hidden
    sibling and renamed into place without clobbering, so an artifact
    is whole or absent, a crashed build leaves nothing the next run
    trusts, and two sessions building the same artifact at once both
    end up reading one committed copy. Reads are plain parquet scans,
    so consumers get pushdown/pruning against the artifact for free --
    unlike a session cache, which pins the whole table.
    """

    workdir: str

    def get_or_build(
        self,
        spark: SparkSession,
        name: str,
        build: Callable[[], DataFrame],
    ) -> DataFrame:
        """Return the artifact, building + committing it only when
        absent. `self.last_built` records whether this call built."""
        df, self.last_built = commit_once(
            spark, f"{self.workdir.rstrip('/')}/{name}", build
        )
        return df
