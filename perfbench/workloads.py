"""The benchmark's workloads: the query legs of one pass and their oracles.

A leg is one query: ``build`` constructs the DataFrame through a public
entry point of the package (``plans.jobspec.build`` or a catalog entry's
``.spark``), ``act`` runs the action (``sources.sinks.write_with_manifest``
or a ``noop`` write), and ``check`` compares the leg's output with DuckDB.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

HERE = os.path.dirname(os.path.abspath(__file__))
SF01_DIR = os.path.join(HERE, "data", "sf0.1")

USERVISITS_SCHEMA = StructType(
    [
        StructField("sourceIP", StringType()),
        StructField("destURL", StringType()),
        StructField("visitDate", StringType()),
        StructField("adRevenue", DoubleType()),
        StructField("userAgent", StringType()),
        StructField("countryCode", StringType()),
        StructField("languageCode", StringType()),
        StructField("searchWord", StringType()),
        StructField("duration", IntegerType()),
    ]
)
RANKINGS_SCHEMA = StructType(
    [
        StructField("pageURL", StringType()),
        StructField("pageRank", IntegerType()),
        StructField("avgDuration", IntegerType()),
    ]
)
_DUCK_USERVISITS = (
    "{'sourceIP':'VARCHAR','destURL':'VARCHAR','visitDate':'VARCHAR',"
    "'adRevenue':'DOUBLE','userAgent':'VARCHAR','countryCode':'VARCHAR',"
    "'languageCode':'VARCHAR','searchWord':'VARCHAR','duration':'INTEGER'}"
)
_DUCK_RANKINGS = "{'pageURL':'VARCHAR','pageRank':'INTEGER','avgDuration':'INTEGER'}"

# The catalog workload: metric key -> catalog entry (keys as in
# bench.py). The rank/prefix statistics kernels run many small stages
# per query; the LLM data-pipeline entries carry the Arrow Python
# workers, the eager index training, the broadcasts and the largest
# shuffles.
CATALOG_KEYS = {
    "q_global_rank": "global_sort_rank",
    "q_acf": "acf_daily_revenue",
    "q_log_rank": "log_rank_churn_by_segment",
    "q_dedup_simhash": "dedup_simhash",
    "q_dedup_paragraphs": "dedup_paragraphs_corpus",
    "q_c4_clean": "text_c4_line_clean",
    "q_ivf_broadcast": "similarity_ivf_topk_broadcast",
    "q_basket_pairs": "market_basket_part_pairs",
}
AMPLAB_KEYS = ("q1a", "q1b", "q2a")


@dataclass
class Leg:
    key: str
    build: Callable[[SparkSession], DataFrame]
    # runs the action; returns the sink manifest, or {} for noop
    act: Callable[[DataFrame], dict]
    # (spark, duckdb connection, last manifest) -> list of problems
    check: Callable[..., list[str]]
    # the leg whose shuffle records per input row is the combine yield
    combine: bool = False
    # raw input lines of the leg whose malformed rows are counted
    raw_lines: int = 0


def _noop(df: DataFrame) -> dict:
    df.write.format("noop").mode("overwrite").save()
    return {}


def compare(srows, scols, orows, ocols) -> list[str]:
    """Row count, column names and canonical value multiset, as in
    ``tools/check_oracle.py``."""
    from tools.check_oracle import canon

    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
    if not problems and canon(srows, scols) != canon(orows, ocols):
        problems.append("values differ")
    return problems


def _duck_rows(con, sql: str):
    res = con.sql(sql)
    return res.fetchall(), [d[0] for d in res.description]


def amplab_legs(meta: dict, out_dir: str) -> list[Leg]:
    """Queries 1a, 1b and 2a of the AMPLab benchmark as JobSpecs over
    the generated CSV part files, each committed as parquet with a
    manifest."""
    from lambda_refarch_mapreduce_spark.plans.jobspec import JobSpec, build
    from lambda_refarch_mapreduce_spark.sources.sinks import write_with_manifest

    rankings = meta["rankings"]["path"]
    uservisits = meta["uservisits"]["path"]
    scan_1 = {"format": "csv", "path": rankings, "schema": RANKINGS_SCHEMA}
    specs = {
        "q1a": JobSpec(
            source=scan_1,
            filter="pageRank > 1000",
            select={"pageURL": "pageURL", "pageRank": "pageRank"},
        ),
        "q1b": JobSpec(
            source=scan_1,
            filter="pageRank > 100",
            select={"pageURL": "pageURL", "pageRank": "pageRank"},
        ),
        "q2a": JobSpec(
            source={
                "format": "csv",
                "path": uservisits,
                "schema": USERVISITS_SCHEMA,
                # the reference reads data[0] and data[3] strictly
                # (mapper.py:51-54): rows missing either are dropped
                "required": ["sourceIP", "adRevenue"],
            },
            select={"src": "substring(sourceIP, 1, 8)", "rev": "adRevenue"},
            group_by=["src"],
            aggs={"sum_rev": "round(sum(rev), 4)"},
        ),
    }
    oracles = {
        "q1a": "SELECT pageURL, pageRank FROM rankings WHERE pageRank > 1000",
        "q1b": "SELECT pageURL, pageRank FROM rankings WHERE pageRank > 100",
        "q2a": "SELECT substr(sourceIP, 1, 8) AS src, round(sum(adRevenue), 4) AS sum_rev "
        "FROM uservisits GROUP BY 1",
    }

    def leg(key: str) -> Leg:
        path = os.path.join(out_dir, key)

        def check(spark, con, manifest) -> list[str]:
            # the committed files, read back by the other engine
            srows, scols = _duck_rows(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
            orows, ocols = _duck_rows(con, oracles[key])
            problems = compare(srows, scols, orows, ocols)
            if manifest.get("rows_written") != len(orows):
                problems.append(
                    f"manifest rows_written={manifest.get('rows_written')} duckdb={len(orows)}"
                )
            return problems

        return Leg(
            key=key,
            build=lambda spark: build(spark, specs[key]),
            act=lambda df: write_with_manifest(df, path, "parquet"),
            check=check,
            combine=key == "q2a",
            raw_lines=meta["uservisits"]["rows"] if key == "q2a" else 0,
        )

    return [leg(k) for k in AMPLAB_KEYS]


def amplab_duck_setup(con, meta: dict) -> None:
    """The oracle's tables: DuckDB's own CSV reader over the same part
    files, dropping unparsable rows like the reference. Materialized,
    so every column is parsed once and the dropped set does not depend
    on the query's projection. The dialect is given, not sniffed: a
    part whose first line is malformed would sniff to another schema."""
    dialect = "header=false, auto_detect=false, delim=',', quote='', escape=''"
    con.sql(
        f"CREATE TABLE uservisits AS SELECT * FROM read_csv('{meta['uservisits']['path']}/*.csv.gz', "
        f"{dialect}, ignore_errors=true, columns={_DUCK_USERVISITS})"
    )
    con.sql(
        f"CREATE TABLE rankings AS SELECT * FROM read_csv('{meta['rankings']['path']}/*.csv.gz', "
        f"{dialect}, columns={_DUCK_RANKINGS})"
    )


def catalog_legs(keys: dict[str, str]) -> list[Leg]:
    """Catalog entries over the sf0.1 tables into a ``noop`` sink,
    checked by collecting once and comparing with the entry's oracle."""
    from lambda_refarch_mapreduce_spark.operators.relational import pin_scope
    from lambda_refarch_mapreduce_spark.plans import (  # noqa: F401
        catalog,
        catalog_analytics,
        catalog_llm,
    )

    def leg(key: str, entry: str) -> Leg:
        qd = catalog.REGISTRY[entry]

        def check(spark, con, manifest) -> list[str]:
            with pin_scope():
                df = qd.spark(spark, SF01_DIR)
                srows, scols = [tuple(r) for r in df.collect()], df.columns
            orows, ocols = _duck_rows(con, qd.oracle)
            return compare(srows, scols, orows, ocols)

        return Leg(key=key, build=lambda spark: qd.spark(spark, SF01_DIR), act=_noop, check=check)

    return [leg(k, e) for k, e in keys.items()]


def catalog_duck_setup(con) -> None:
    for f in sorted(os.listdir(SF01_DIR)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(SF01_DIR, f)}'")


def pass_order(legs: list[Leg], seed: int, pass_no: int, shuffle: bool) -> list[Leg]:
    """The legs of one pass. The cold pass (0) keeps the declared order,
    so every run's cold pass pays JIT warm-up on the same query; the
    catalog workload permutes its warm passes from the seed."""
    if not shuffle or pass_no == 0:
        return list(legs)
    order = list(legs)
    random.Random(seed * 1000 + pass_no).shuffle(order)
    return order
