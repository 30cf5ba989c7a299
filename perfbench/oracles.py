"""Correctness checks, run outside the timed region.

Batch steps are checked against the DuckDB oracle of the engine gate
that runs the same function with the same parameters
(`__spark_entry__.oracle_sql()`), evaluated over the seeded input
tables: the committed output (read back by DuckDB, after Spark has
stopped) and the oracle result are reduced to the same canonical row
form (`tests.oracle_harness.canonical_rows`) and compared by digest.
Query responses are compared page by page against pages DuckDB
computes from the same inputs.
"""

from __future__ import annotations

import hashlib
import re
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from tests.oracle_harness import canonical_rows, duckdb_conn

import __spark_entry__


def digest(columns: list[str], rows: list[tuple]) -> str:
    """sha256 over the order- and column-order-insensitive row form."""
    h = hashlib.sha256()
    for line in canonical_rows(list(columns), rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class GateOracles:
    """Digests of the oracle results of `gates`, evaluated concurrently
    (one DuckDB cursor per gate) when the object is made."""

    def __init__(self, data_dir: str, gates: list[str]):
        self.con = duckdb_conn(data_dir)
        sql = __spark_entry__.oracle_sql()

        def evaluate(gate: str) -> tuple[list[str], str]:
            res = self.con.cursor().execute(sql[gate])
            cols = [d[0] for d in res.description]
            return sorted(cols), digest(cols, res.fetchall())

        with ThreadPoolExecutor(max_workers=len(gates)) as pool:
            self._expected = dict(zip(gates, pool.map(evaluate, gates)))

    def expected(self, gate: str) -> tuple[list[str], str]:
        return self._expected[gate]

    def check(self, gate: str, path: str) -> str | None:
        """None when the parquet output committed at `path` matches the
        gate's oracle, else a one-line reason."""
        res = self.con.cursor().execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
        cols = [d[0] for d in res.description]
        got = (sorted(cols), digest(cols, res.fetchall()))
        want = self.expected(gate)
        if got[0] != want[0]:
            return f"{gate}: columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"{gate}: digest {got[1][:12]} != oracle {want[1][:12]}"
        return None

    def close(self) -> None:
        self.con.close()


def _split(sql: str, marker: str) -> str:
    """The part of an oracle before `marker`, failing loudly if the
    oracle no longer has the shape this module cuts it at."""
    if marker not in sql:
        raise RuntimeError(f"oracle has no {marker!r}")
    return sql.split(marker)[0]


class QueryOracles:
    """Expected response pages for the query_serving mix."""

    def __init__(self, data_dir: str, page_sizes: dict[str, int], snippet_width: int):
        self.con = duckdb_conn(data_dir)
        self.sizes = page_sizes
        self.width = snippet_width
        sql = __spark_entry__.oracle_sql()
        # the gates' oracles without their parameter-specific tails: the
        # full inverse-link table and the full domain-stats table
        inv_sql = _split(sql["query_inverse_links"], "WHERE dst % 97 = 7")
        dom_sql = _split(sql["query_domain_list"], "SELECT * FROM domains WHERE")
        self.inverse = self.con.execute(inv_sql).df()
        self.domains = self.con.execute(dom_sql + " SELECT * FROM domains").df()
        self.documents = self.con.execute("SELECT * FROM documents").df()
        self._snippets: dict[tuple[str, int], pd.DataFrame] = {}

    def inverse_counts(self) -> dict[int, int]:
        return self.inverse.groupby(self.inverse["dst"] % 97).size().to_dict()

    def domain_counts(self, patterns) -> dict[str, int]:
        return {
            p: int(self.domains["domain"].map(lambda d: bool(re.search(p, d))).sum())
            for p in patterns
        }

    def snippets(self, term: str) -> pd.DataFrame:
        width = self.width
        key = (term, width)
        if key not in self._snippets:
            # query_snippets' oracle, for any term and width
            self._snippets[key] = self.con.execute(
                f"""
                WITH m AS (
                    SELECT doc_id, strpos(lower(text), ?) AS pos, text
                    FROM documents
                )
                SELECT doc_id, CAST(pos AS INT) AS pos,
                       substring(text, greatest(pos - {width}, 1),
                                 pos - greatest(pos - {width}, 1)
                                 + {len(term)} + {width}) AS snippet
                FROM m WHERE pos > 0 ORDER BY doc_id
                """,
                [term.lower()],
            ).df()
        return self._snippets[key]

    @staticmethod
    def _page(df: pd.DataFrame, by: list[str], asc: list[bool], offset: int,
              size: int) -> pd.DataFrame:
        return df.sort_values(by, ascending=asc, kind="mergesort").iloc[
            offset: offset + size
        ]

    def expected(self, req) -> pd.DataFrame:
        size = self.sizes.get(req.kind)
        if req.kind == "inverse_links_query":
            root, asc = req.key
            df = self.inverse[self.inverse["dst"] % 97 == root]
            return self._page(df, ["inlink_count", "dst"], [asc, True], req.offset, size)
        if req.kind == "domain_list_query":
            pattern, field, asc = req.key
            df = self.domains[self.domains["domain"].map(lambda d: bool(re.search(pattern, d)))]
            return self._page(df, [field, "domain"], [asc, True], req.offset, size)
        if req.kind == "url_detail_query":
            return self.documents[self.documents["doc_id"] == req.key[0]]
        return self.snippets(req.key[0]).iloc[req.offset: req.offset + size]

    def check(self, out) -> str | None:
        """None when the response `out` equals the expected page."""
        want = self.expected(out.req)
        cols = list(want.columns)
        want_rows = [tuple(r) for r in want.itertuples(index=False)]
        if sorted(out.columns) != sorted(cols):
            return f"{out.req}: columns {out.columns} != {cols}"
        if canonical_rows(out.columns, out.rows) != canonical_rows(cols, want_rows):
            return f"{out.req}: page differs from the oracle page"
        return None

    def close(self) -> None:
        self.con.close()
