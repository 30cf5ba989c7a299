"""query_serving: the interactive user of the canonical-id result cache.

Setup prebuilds the two base tables the query server reads (domain
stats from the documents and the inverse-link table of the lineitem
link graph) and leaves the result cache empty. The load is a seeded,
Zipf-skewed mix over canonical query ids:

- 55 % `inverse_links_query`: 97 roots x 2 sort orders, random page;
- 15 % `domain_list_query`: 2 patterns x 2 sorts, random page;
- 20 % `url_detail_query`: point lookups of a document id;
- 10 % `keyword_snippets`: one vocabulary term, random page.

A request whose canonical id has no cached result yet (a miss)
writes the cache; a repeat (a hit) reads it. One client sends the mix
in a closed loop against a cache that is empty at the start, each
request when the previous one returns; capacity is the loop's rate of
completed requests.

One request is in flight at a time. Concurrent misses on one
canonical id race in `QueryServer._materialize`, which overwrites a
shared cache path: such a request fails or leaves a corrupted result
at random, so the failed-op count of a concurrent load would differ
between runs of the same code and seed, and the benchmark must report
the same failures for the same code. A failed or wrong request is
still counted, never retried.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np

from commoncrawl_crawler_spark.checkpointing import ckpt_eager
from commoncrawl_crawler_spark.operators import graph
from commoncrawl_crawler_spark.plans import query_api
from commoncrawl_crawler_spark.plans.query_api import ClientQueryInfo, QueryServer
from commoncrawl_crawler_spark.sources import load_table

REQUESTS_PER_S = 6  # requests per second of --seconds
# untimed, so that the loop does not pay the first calls' start-up
WARM_UP_REQUESTS = 30
# request popularity: web request traces follow Zipf-like laws with
# exponents 0.64-0.83 (Breslau et al., "Web Caching and Zipf-like
# Distributions: Evidence and Implications", INFOCOM 1999); the top of
# that range is used
ZIPF_S = 0.83

MIX = (
    ("inverse_links_query", 0.55),
    ("domain_list_query", 0.15),
    ("url_detail_query", 0.20),
    ("keyword_snippets", 0.10),
)
CACHED_KINDS = ("inverse_links_query", "domain_list_query")

# the filters and sorts of the engine's domain-list gates
# (query_domain_list, query_domain_resort) and query-server tests
DOMAIN_PATTERNS = ("^src[0-9]$", "^src.*")
DOMAIN_SORTS = (("doc_count", False), ("total_chars", True))
INVERSE_PAGE = 10
DOMAIN_PAGE = 5
SNIPPET_PAGE = 10
PAGE_SIZES = {
    "inverse_links_query": INVERSE_PAGE,
    "domain_list_query": DOMAIN_PAGE,
    "keyword_snippets": SNIPPET_PAGE,
}
SNIPPET_WIDTH = 25
PREBUILD_SPANS = ["plans.query_api.domain_stats_from_documents",
                  "operators.graph.inverse_links"]


@dataclass(frozen=True)
class Request:
    kind: str
    key: tuple  # the canonical parameters; pagination excluded
    offset: int = 0


class Catalog:
    """The canonical ids of each query kind, ranked for the Zipf draw
    by a seeded permutation, and each id's page count."""

    def __init__(self, rng: np.random.Generator, pages: dict[str, dict],
                 doc_ids: np.ndarray, terms: list[str]):
        inv = [(root, asc) for root in range(graph.ROOT_MOD) for asc in (False, True)]
        dom = [(p, f, a) for p in DOMAIN_PATTERNS for f, a in DOMAIN_SORTS]
        self.ids = {
            "inverse_links_query": [inv[i] for i in rng.permutation(len(inv))],
            "domain_list_query": [dom[i] for i in rng.permutation(len(dom))],
            "keyword_snippets": [(terms[i],) for i in rng.permutation(len(terms))],
        }
        self.pages = pages  # kind -> first key field -> number of pages
        self.doc_ids = doc_ids

    @classmethod
    def from_oracle(cls, rng, oracle, terms: list[str]) -> "Catalog":
        def n_pages(n: int, kind: str) -> int:
            return max(1, -(-n // PAGE_SIZES[kind]))

        k_inv, k_dom, k_kw = "inverse_links_query", "domain_list_query", "keyword_snippets"
        pages = {
            k_inv: {r: n_pages(n, k_inv) for r, n in oracle.inverse_counts().items()},
            k_dom: {p: n_pages(n, k_dom)
                    for p, n in oracle.domain_counts(DOMAIN_PATTERNS).items()},
            k_kw: {t: n_pages(len(oracle.snippets(t)), k_kw) for t in terms},
        }
        return cls(rng, pages, oracle.documents["doc_id"].to_numpy(), terms)

    def schedule(self, rng: np.random.Generator, n: int) -> list[Request]:
        """`n` requests. The kinds' counts follow MIX, each kind's Zipf
        ranks are stratified quantiles, and the order of (kind, rank)
        depends on `n` alone, so every seed sends the same traffic shape:
        the same repeats (cache hits) at the same positions. The seed
        picks the id that holds each rank and the pages."""
        counts = [int(n * p) for _, p in MIX]
        for i in np.argsort([-(n * p) % 1 for _, p in MIX])[: n - sum(counts)]:
            counts[i] += 1
        reqs = []
        for (kind, _), k in zip(MIX, counts):
            if kind == "url_detail_query":
                reqs += [Request(kind, (int(d),)) for d in rng.choice(self.doc_ids, k)]
                continue
            ids = self.ids[kind]
            cdf = np.cumsum(1.0 / np.arange(1, len(ids) + 1) ** ZIPF_S)
            ranks = np.searchsorted(cdf / cdf[-1], (np.arange(k) + 0.5) / k)
            for r in ranks:
                key = ids[int(r)]
                page = int(rng.integers(0, self.pages[kind].get(key[0], 1)))
                reqs.append(Request(kind, key, page * PAGE_SIZES[kind]))
        return [reqs[i] for i in np.random.default_rng(n).permutation(len(reqs))]


def latency_names() -> list[str]:
    """Per-layer latency metric names: cached kinds split by cache state."""
    return [f"plans.query_api.{k}.{s}" for k in CACHED_KINDS for s in ("hit", "miss")] + [
        f"plans.query_api.{k}" for k, _ in MIX if k not in CACHED_KINDS]


def latencies_by_name(outs: list) -> dict[str, list[float]]:
    """Service times (ms) of the successful requests, by latency name."""
    by = {n: [] for n in latency_names()}
    for o in outs:
        if o.error is not None:
            continue
        name = f"plans.query_api.{o.req.kind}"
        if o.hit is not None:
            name += ".hit" if o.hit else ".miss"
        by[name].append((o.end - o.start) * 1000.0)
    return by


def qid(req: Request) -> str | None:
    """The result-cache id the server keys `req` by (None: uncached)."""
    if req.kind == "inverse_links_query":
        root, asc = req.key
        return query_api.canonical_query_id(
            "inverse_links",
            {"root": root, "sort": "inlink_count", "asc": asc, "tiebreak": "dst"},
        )
    if req.kind == "domain_list_query":
        pattern, field, asc = req.key
        return query_api.canonical_query_id(
            "domain_list",
            {"pattern": pattern, "sort": field, "asc": asc, "tiebreak": "domain"},
        )
    return None


class Service:
    """The prebuilt base tables the query server reads."""

    def __init__(self, spark, tracer, data_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.documents = load_table(spark, "documents", data_dir)
        with tracer.span("plans.query_api.domain_stats_from_documents"):
            self.domains = ckpt_eager(query_api.domain_stats_from_documents(self.documents))
        with tracer.span("operators.graph.inverse_links"):
            edges = graph.link_graph_edges(load_table(spark, "lineitem", data_dir))
            self.inverse = ckpt_eager(graph.inverse_links(edges))

    def execute(self, server: QueryServer, req: Request) -> tuple[list[tuple], list[str]]:
        if req.kind == "inverse_links_query":
            root, asc = req.key
            info = ClientQueryInfo("inlink_count", asc, req.offset, INVERSE_PAGE, "dst")
            df = server.inverse_links_query(self.inverse, root, info)
        elif req.kind == "domain_list_query":
            pattern, field, asc = req.key
            info = ClientQueryInfo(field, asc, req.offset, DOMAIN_PAGE, "domain")
            df = server.domain_list_query(self.domains, pattern, info)
        elif req.kind == "url_detail_query":
            df = server.url_detail_query(self.documents, "doc_id", req.key[0])
        else:
            df = (
                query_api.keyword_snippets(self.documents, req.key[0], width=SNIPPET_WIDTH)
                .offset(req.offset)
                .limit(SNIPPET_PAGE)
            )
        return [tuple(r) for r in df.collect()], df.columns


@dataclass
class Outcome:
    req: Request
    hit: bool | None
    sent: float
    start: float = 0.0
    end: float = 0.0
    rows: list | None = None
    columns: list | None = None
    error: str | None = None

    @property
    def latency_ms(self) -> float:
        return (self.end - self.sent) * 1000.0


def _serve(svc: Service, server: QueryServer, out: Outcome) -> Outcome:
    q = qid(out.req)
    out.hit = server.cached_results_available(q) if q else None
    state = {True: "hit", False: "miss", None: "uncached"}[out.hit]
    out.start = time.monotonic()
    try:
        with svc.tracer.span(f"plans.query_api.{out.req.kind}", cache=state):
            out.rows, out.columns = svc.execute(server, out.req)
            # before the traced span reads its counters back
            out.end = time.monotonic()
    except Exception as exc:  # a failed request is counted, the run goes on
        out.end = out.end or time.monotonic()
        out.error = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
    return out


def closed_loop(svc: Service, server: QueryServer,
                reqs: list[Request]) -> tuple[list[Outcome], float]:
    """One client sends each request of `reqs` when the previous one
    returns; returns outcomes and the loop's wall time."""
    t0 = time.monotonic()
    outs = [_serve(svc, server, Outcome(req, None, time.monotonic())) for req in reqs]
    return outs, time.monotonic() - t0
