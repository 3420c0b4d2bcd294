"""library_sf001: ten registry queries plus web-console statements over a
seeded sf0.01 lake, one client in a closed loop."""

from __future__ import annotations

import json
import os
import random

from perfbench import common, fixtures

#: two queries per heavy module, one per other module: all seven covered
QUERY_NAMES = [
    "filter_predicates",            # analytics
    "events_sessionize",            # analytics
    "q1_pricing_summary",           # tpch
    "top_customers_flagged",        # tpch
    "extract_doc_tokens",           # extraction_q
    "linkage_knn_best_match",       # linkage_q
    "vignette_retraction_profile",  # unify_q
    "sparql_path_ancestors",        # ontology_q
    "dedup_containment",            # llm_pipeline
    "text_compression_ratio",       # llm_pipeline (no oracle: row shape)
]


def console_statements(seed: int) -> dict[str, str]:
    """The web console's example gallery plus one seeded point lookup and
    one seeded range lookup of fixed width."""
    from science_datalake_spark.webapp import EXAMPLE_QUERIES

    rnd = random.Random(f"console:{seed}")
    key = rnd.randrange(fixtures.N_ORDERS)
    lo = rnd.randrange(fixtures.N_ORDERS - 20)
    out = {f"console:{name}": sql for name, sql in EXAMPLE_QUERIES.items()}
    out["console:point lookup"] = (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
        f"WHERE o_orderkey = {key}"
    )
    out["console:range lookup"] = (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        f"WHERE l_orderkey BETWEEN {lo} AND {lo + 19} ORDER BY l_orderkey, l_linenumber"
    )
    return out


#: the catalog's convenience views, restated for the DuckDB oracle
_ORACLE_VIEWS = {
    "recent_orders": "SELECT * FROM orders WHERE o_orderdate >= DATE '1997-01-01'",
}


def oracle_digests(sf_dir: str, seed: int) -> dict[str, str | None]:
    """Expected result digests from DuckDB over the same Parquet files.
    None marks an operation checked by row shape instead."""
    from science_datalake_spark.cli import guard_sql
    from science_datalake_spark.oracle import duckdb_connection
    from science_datalake_spark.queries import load_all, load_aux

    _q, oracle = load_all()
    _aq, aux_oracle = load_aux()
    sql = {**aux_oracle, **oracle}
    con = duckdb_connection(sf_dir)
    try:
        for view, body in _ORACLE_VIEWS.items():
            con.execute(f"CREATE VIEW {view} AS {body}")
        out: dict[str, str | None] = {}
        for name in QUERY_NAMES:
            out[name] = common.frame_digest(con.sql(sql[name]).df()) if name in sql else None
        for name, stmt in console_statements(seed).items():
            rel = con.sql(guard_sql(stmt))
            out[name] = common.digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


class Library:
    #: engine modules a query or console process imports
    MODULES = (
        "science_datalake_spark.catalog",
        "science_datalake_spark.queries",
        "science_datalake_spark.webapp",
    )

    def __init__(self, seed: int, cache: str, code: str) -> None:
        self.seed = seed
        self.sf_dir = os.path.join(cache, "inputs", f"lake-seed{seed}-{code}")
        self.expected: dict[str, str | None] = {}
        self.spark = None
        self.service = None

    def prepare(self) -> None:
        """Seeded inputs and oracle digests, cached per seed and source
        hash (untimed)."""
        done = os.path.join(self.sf_dir, "oracle.json")
        if not os.path.exists(done):
            fixtures.write_lake(self.seed, self.sf_dir)
            digests = oracle_digests(self.sf_dir, self.seed)
            with open(done + ".tmp", "w") as f:
                json.dump(digests, f, indent=1, sort_keys=True)
            os.replace(done + ".tmp", done)
        with open(done) as f:
            self.expected = json.load(f)

    def setup(self, hooks) -> None:
        from science_datalake_spark import catalog
        from science_datalake_spark.session import (
            SCAN_OPEN_COST_BYTES,
            get_spark,
            suggest_aqe,
            suggest_shuffle_partitions,
        )
        from science_datalake_spark.webapp import QueryService

        # bench.py's session settings
        parts = suggest_shuffle_partitions(self.sf_dir)
        self.spark = hooks.launch(
            get_spark,
            "perfbench-library",
            **{
                "spark.sql.shuffle.partitions": str(parts),
                "spark.sql.files.openCostInBytes": str(SCAN_OPEN_COST_BYTES),
                "spark.sql.adaptive.enabled": suggest_aqe(self.sf_dir),
            },
        )
        hooks.register_views(
            lambda: catalog.register_views(
                catalog.bootstrap_session(self.spark, self.sf_dir), self.sf_dir
            )
        )
        self.service = QueryService(self.spark)
        self.spark.read.parquet(os.path.join(self.sf_dir, "region.parquet")).count()

    def before_pass(self, pass_no: int) -> None:
        pass

    def ops(self, pass_no: int, hooks):
        """(name, callable) per operation of one pass; each callable
        returns what ``check`` needs."""
        from science_datalake_spark.queries import load_all, load_aux

        registry = {**load_aux()[0], **load_all()[0]}
        ops = []
        for name in QUERY_NAMES:
            fn = registry[name]
            ops.append((name, lambda fn=fn: hooks.query(lambda: fn(self.spark, self.sf_dir))))
        for name, stmt in console_statements(self.seed).items():
            ops.append((name, lambda stmt=stmt: hooks.console(self.service.run, stmt)))
        return ops

    def check(self, name: str, output) -> str | None:
        """None when the output is right, else what is wrong."""
        want = self.expected.get(name)
        if name.startswith("console:"):
            if output.error:
                return output.error
            got = common.digest(output.columns, [tuple(r) for r in output.rows])
        elif want is None:
            return _check_compression_shape(output)
        else:
            got = common.frame_digest(output)
        return None if got == want else f"digest {got[:12]} != oracle {want[:12]}"

    def storage_ratio(self) -> float:
        return 0.0  # the library workload writes nothing

    def counts(self) -> dict[str, int]:
        """Input sizes, equal for every seed by construction."""
        import pyarrow.parquet as pq

        return {
            "rows." + f[: -len(".parquet")]: pq.ParquetFile(os.path.join(self.sf_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(self.sf_dir))
            if f.endswith(".parquet")
        }


def _check_compression_shape(df) -> str | None:
    if list(df.columns) != ["n_docs", "avg_ratio", "min_ratio", "max_ratio"] or len(df) != 1:
        return f"unexpected shape {list(df.columns)} x {len(df)}"
    row = df.iloc[0]
    if int(row["n_docs"]) != fixtures.N_DOCS:
        return f"n_docs {row['n_docs']} != {fixtures.N_DOCS}"
    if not 0 < row["min_ratio"] <= row["avg_ratio"] <= row["max_ratio"]:
        return f"ratios out of order {row.to_dict()}"
    return None
