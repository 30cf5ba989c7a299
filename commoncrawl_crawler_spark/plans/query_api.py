"""Interactive query lifecycle: filter -> sort -> cache -> paginate.

Reference (SURVEY.md section 3.1): the query server's whole
scatter/gather machinery -- servlet builds a Query + ClientQueryInfo
(sort field/order/offset/pageSize, service/queryserver/
queryserver.jr:50-62), master checks `cachedResultsAvailable()`
keyed by `getCanonicalId()` (query/DomainListQuery.java:91,444-456),
slaves scan their shards (regex match, index/DatabaseIndexV2.java:
961-1028), the master k-way-merges + re-sorts into a
position-indexed file, pages served via readPaginatedResults
(index/PositionBasedSequenceFileIndex.java:229-264).

Spark-first: the scatter, per-shard scan, merge-sort, and position
index all disappear into `df.filter(rlike).orderBy(...)`; the piece
worth keeping is the *canonical-id result cache* -- a query's sorted
result is committed once as parquet keyed by a hash of its normalized
parameters, and every later page read (any offset) is an
O(page) read of that small cached table instead of a re-scan of the
100 TB base. Distinct sort orders cache separately, exactly like the
reference's pre-sorted NAME / PAGERANK index variants
(query/DomainURLListQuery.java). A miss commits through
`plans.pipeline.commit_once`: the result is written to a hidden
staging directory and renamed into place without clobbering, so
concurrent misses on one canonical id are safe -- one commit wins and
every other request reads it.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import _success_exists, commit_once


@dataclass(frozen=True)
class ClientQueryInfo:
    """Sort/pagination spec (queryserver.jr:50-62 analog)."""

    sort_field: str
    ascending: bool = True
    offset: int = 0
    page_size: int = 25
    tiebreak: str | None = None


def canonical_query_id(query_type: str, params: dict) -> str:
    """Stable id for a (query, params) pair -- Query.getCanonicalId().

    Pagination params are excluded on purpose: every page of the same
    logical query hits the same cached result.
    """
    blob = json.dumps({"type": query_type, "params": params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:24]


class QueryServer:
    """Result-cached interactive queries over a base DataFrame source.

    `cache_dir` is any Spark-writable URI (local path here; an
    object-store prefix on a cluster). Materialized results are tiny
    relative to base tables (they are post-filter), so the cache is
    cheap and the pagination path never touches base data.
    """

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir

    def _cache_path(self, qid: str) -> str:
        # URI-style join, not os.path.join: cache_dir may be an
        # object-store prefix (s3a://..., abfss://...) where the
        # separator is always '/'
        return f"{self.cache_dir.rstrip('/')}/{qid}"

    def cached_results_available(self, qid: str) -> bool:
        # _SUCCESS marker = fully committed, mirroring
        # cachedResultsAvailable()'s file-exists check on any
        # Spark-writable URI
        return _success_exists(self._cache_path(qid), self.spark)

    @staticmethod
    def _order(info: ClientQueryInfo) -> list:
        col = F.col(info.sort_field)
        order = [col.asc() if info.ascending else col.desc()]
        if info.tiebreak:
            order.append(F.col(info.tiebreak).asc())
        return order

    def _cached_page(
        self,
        query_type: str,
        params: dict,
        filtered: DataFrame,
        info: ClientQueryInfo,
    ) -> DataFrame:
        """Commit `filtered` sorted by `info` once under the canonical id
        of (query_type, params, sort spec); return the requested page."""
        qid = canonical_query_id(
            query_type,
            {
                **params,
                "sort": info.sort_field,
                "asc": info.ascending,
                "tiebreak": info.tiebreak,
            },
        )
        order = self._order(info)
        cached, _ = commit_once(
            self.spark, self._cache_path(qid), lambda: filtered.orderBy(*order)
        )
        return cached.orderBy(*order).offset(info.offset).limit(info.page_size)

    def domain_list_query(
        self,
        domains: DataFrame,
        pattern: str,
        info: ClientQueryInfo,
    ) -> DataFrame:
        """DomainListQuery: regex-filtered domain stats, sorted page.

        The filter+sort result caches under the canonical id of
        (pattern, sort field, order); pages are offset/limit reads of
        the cached parquet (PositionBasedSequenceFileIndex analog --
        parquet row groups give the same skip-to-offset behavior).
        """
        return self._cached_page(
            "domain_list",
            {"pattern": pattern},
            domains.filter(F.col("domain").rlike(pattern)),
            info,
        )

    def inverse_links_query(
        self, inverse: DataFrame, root: int, info: ClientQueryInfo
    ) -> DataFrame:
        """getInverseLinksByDomain: the inverse-link rows whose target
        belongs to one root domain, as a sorted page.

        Reference: QueryServerFE.java:111-118 registers
        /getInverseLinksByDomain.jsp over URLLinksQuery; the shard scan
        + merge-sort becomes a cached filter+sort with offset/limit
        pages (same shape as domain_list_query). The root filter is
        the synthetic rootDomainHash (operators/graph.root_of)."""
        from ..operators.graph import ROOT_MOD

        return self._cached_page(
            "inverse_links",
            {"root": root},
            inverse.filter((F.col("dst") % ROOT_MOD) == root),
            info,
        )

    def url_detail_query(self, table: DataFrame, key_col: str, key) -> DataFrame:
        """Point lookup (URLLinksQuery's index seek analog).

        `WHERE key = x` over parquet = row-group min/max skip, the
        same pruning the reference's TFile seekTo provided
        (DatabaseIndexV2.java:791-840).
        """
        return table.filter(F.col(key_col) == F.lit(key))


def domain_stats_from_documents(documents: DataFrame) -> DataFrame:
    """Derive the 'domains' dimension the query server serves
    (SubDomainMetadata analog: per-source doc/char tallies)."""
    return documents.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("lang_count"),
    )


def keyword_snippets(
    documents: DataFrame, term: str, width: int = 30
) -> DataFrame:
    """Keyword-in-context snippets: for every document containing
    `term` (case-insensitive), the match position and a +-width-char
    window around the FIRST occurrence -- what a query server renders
    under each search hit.

    Pure Column expressions (instr + substring) evaluated in the scan
    stage; documents without the term are filtered before any
    projection work. Positions are 1-based (SQL instr convention);
    the window clips at document edges by substring semantics.
    """
    pos = F.instr(F.lower(F.col("text")), term.lower())
    return (
        documents.select("doc_id", pos.alias("pos"), "text")
        .filter(F.col("pos") > 0)
        .select(
            "doc_id",
            "pos",
            F.expr(
                f"substring(text, greatest(pos - {width}, 1), "
                f"pos - greatest(pos - {width}, 1) + {len(term)} + {width})"
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )
