"""The benchmark workloads as lists of forced calls, plus their checks.

A workload is a list of ``Step``s. A step calls into one layer of the
engine and returns named DataFrames; the runner forces every one of them
(``keep`` ones are materialized for later steps). ``layer`` names the
module and public function the step's work is charged to in a traced
run, e.g. ``graph.algorithms.kcore_subgraph``.

Each workload also knows how to check its outputs: ``expected`` returns,
per output, the row count and order-insensitive digest DuckDB computes
from the same input files (the registry oracle, or a query over the
generator's ground truth); ``ratios`` returns the useful-to-attempted
ratios of the traced run.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import gen

Frames = dict[str, DataFrame]


@dataclass
class Step:
    name: str
    layer: str
    build: Callable[[dict], Frames]
    keep: tuple[str, ...] = ()


@dataclass
class Workload:
    name: str
    # The fewest timed passes. It is fixed so every run takes the same
    # path through the JVM's compilation warm-up; it covers
    # ``run_seconds`` on a quiet 4-core box, so the pass count does not
    # vary from run to run.
    passes: int
    generate: Callable[[str, int], dict]
    steps: Callable[[SparkSession, str], list[Step]]
    expected: Callable[[str], dict[str, tuple[int, int]]]
    ratios: Callable[[SparkSession, str, dict[str, int]], dict[str, float]]


# ---------------------------------------------------------------------------
# Digests: the same canonical row hash in Spark and in DuckDB
# ---------------------------------------------------------------------------

NULL_TOKEN = "∅"


def spark_digest(df: DataFrame) -> tuple[int, int]:
    """(rows, digest) of ``df``, computed in the engine: the digest sums the
    first 60 bits of md5 over each row's canonical text (columns sorted by
    name, joined by 0x1f, nulls as ``∅``), so row order does not matter and
    no rows reach the driver. ``duck_digest`` computes the same in DuckDB."""
    text = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)) for c in sorted(df.columns)],
    )
    h = F.conv(F.substring(F.md5(text), 1, 15), 16, 10).cast("decimal(38,0)")
    rows, digest = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return int(rows), int(digest or 0)


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, int]:
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
    text = ", ".join(
        f"coalesce(CAST(\"{c}\" AS VARCHAR), '{NULL_TOKEN}')" for c in sorted(cols)
    )
    h = f"CAST('0x' || substr(md5(concat_ws(chr(31), {text})), 1, 15) AS BIGINT)"
    n, s = con.execute(f"SELECT count(*), sum({h}) FROM ({sql})").fetchone()
    return int(n), int(s or 0)


def duck_connect(in_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    return con


def materialize_ctes(sql: str) -> str:
    """Mark each plain CTE MATERIALIZED: DuckDB 1.0 otherwise inlines a CTE
    at every reference, and the unrolled loop oracles reference each round
    twice, so their plans double per round. Results are unchanged."""
    return re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


# ---------------------------------------------------------------------------
# pipeline_full
# ---------------------------------------------------------------------------

PIPELINE_ORGS = 20


def _pipeline_steps(spark: SparkSession, in_dir: str) -> list[Step]:
    from leader_graph_spark.pipeline import stages

    def read(name: str) -> DataFrame:
        return spark.read.parquet(f"{in_dir}/{name}.parquet")

    def org_html(env: dict) -> DataFrame:
        return env["orgs"].join(read("org_pages"), "url").select("uuid", "remark")

    def leader_html(env: dict) -> DataFrame:
        return env["leaders"].join(read("leader_pages"), "url").select("uuid", "remark")

    def careers(env: dict) -> Frames:
        text = env["leaders"].join(read("careers"), "url").select(
            "uuid", "org_uuid", "name", "career_text"
        )
        valid, quarantine = stages.structure_careers(text)
        return {"events": valid, "quarantine": quarantine}

    def graph(env: dict) -> Frames:
        env["graph"] = stages.build_graph(
            env["orgs"], env["leaders"], env["events"], person_details=env["details"]
        )
        return {k: env["graph"][k] for k in ("vertices", "edges")}

    def frame(key: str) -> Callable[[dict], Frames]:
        return lambda env: {key: env["graph"][key]}

    return [
        Step("ingest_orgs", "pipeline.stages.ingest_orgs",
             lambda env: {"orgs": stages.ingest_orgs(read("org_chart"))}, ("orgs",)),
        Step("extract_org_fields", "extract.html.parse_pages",
             lambda env: {"org_fields": stages.extract_org_fields(org_html(env))}),
        Step("derive_leaders", "extract.html.extract_links_table",
             lambda env: {"leaders": stages.derive_leaders(org_html(env))}, ("leaders",)),
        Step("extract_leader_fields", "extract.html.parse_pages",
             lambda env: {"leader_fields": stages.extract_leader_fields(leader_html(env))}),
        Step("extract_leader_details", "extract.html.extract_infobox_table",
             lambda env: {"details": stages.extract_leader_details(leader_html(env))},
             ("details",)),
        Step("structure_careers", "operators.llm.structured_extraction", careers, ("events",)),
        Step("build_graph", "pipeline.stages.build_graph", graph),
        Step("schoolmates", "graph.derived.schoolmate_edges", frame("schoolmates")),
        Step("colleagues_now", "graph.derived.current_colleague_edges", frame("colleagues_now")),
        Step("colleagues_past", "graph.derived.historical_colleague_edges",
             frame("colleagues_past")),
        Step("same_hometown", "graph.derived.same_group_pairs", frame("same_hometown")),
    ]


_GT_TABLES = ["gt_orgs", "gt_leaders", "gt_events", "gt_native"]

# The engine's rules, restated over the generator's ground truth: a
# missing start month counts as January and a missing end month as
# December; schoolmates need all four year bounds for at_same_time;
# historical colleagues need all four date parts.
_PERIOD = (
    "printf('%d.%02d-%d.%02d', (greatest(a.s_m, b.s_m) - 1) // 12, "
    "((greatest(a.s_m, b.s_m) - 1) % 12) + 1, (least(a.e_m, b.e_m) - 1) // 12, "
    "((least(a.e_m, b.e_m) - 1) % 12) + 1)"
)
_GT_SQL = {
    "schoolmates": """
WITH s AS (
  SELECT uuid AS person_id, school, sy, ey,
         sy * 12 + coalesce(sm, 1) AS s_m, ey * 12 + coalesce(em, 12) AS e_m
  FROM gt_events WHERE valid AND event_type = 'study' AND school <> '中央党校'
)
SELECT a.school, a.person_id AS person_id_1, b.person_id AS person_id_2,
       coalesce(a.sy IS NOT NULL AND a.ey IS NOT NULL AND b.sy IS NOT NULL
                AND b.ey IS NOT NULL AND a.s_m <= b.e_m AND b.s_m <= a.e_m, false)
         AS at_same_time,
       CASE WHEN a.sy IS NOT NULL AND a.ey IS NOT NULL AND b.sy IS NOT NULL
                 AND b.ey IS NOT NULL AND a.s_m <= b.e_m AND b.s_m <= a.e_m
            THEN """ + _PERIOD + """
       END AS overlap_period
FROM s a JOIN s b ON a.school = b.school AND a.person_id < b.person_id
""",
    "colleagues_now": """
WITH p AS (
  SELECT l.uuid, md5(concat_ws('_', o.dept, o.parent_dept)) AS org_uuid
  FROM gt_leaders l JOIN gt_orgs o ON l.org_url = o.url
)
SELECT a.org_uuid, a.uuid AS uuid_1, b.uuid AS uuid_2, 'till now' AS overlap_period
FROM p a JOIN p b ON a.org_uuid = b.org_uuid AND a.uuid < b.uuid
""",
    "colleagues_past": """
WITH w AS (
  SELECT uuid AS person_id, place, sy * 12 + sm AS s_m, ey * 12 + em AS e_m
  FROM gt_events
  WHERE valid AND event_type = 'work'
    AND sy IS NOT NULL AND sm IS NOT NULL AND ey IS NOT NULL AND em IS NOT NULL
)
SELECT a.place, a.person_id AS person_id_1, b.person_id AS person_id_2,
       """ + _PERIOD + """ AS overlap_period
FROM w a JOIN w b
  ON a.place = b.place AND a.person_id < b.person_id
 AND a.s_m <= b.e_m AND b.s_m <= a.e_m
""",
    "same_hometown": """
SELECT a.native_place, a.uuid AS uuid_1, b.uuid AS uuid_2
FROM gt_native a JOIN gt_native b
  ON a.native_place = b.native_place AND a.uuid < b.uuid
""",
}

# Outputs checked by row count only, against a ground-truth count.
_GT_COUNTS = {
    "orgs": "SELECT count(*) FROM gt_orgs",
    "org_fields": "SELECT count(*) FROM gt_orgs",
    "leaders": "SELECT count(*) FROM gt_leaders",
    "leader_fields": "SELECT count(*) FROM gt_leaders",
    "details": "SELECT count(*) FROM gt_leaders",
    "events": "SELECT count(*) FROM gt_events WHERE valid",
    "quarantine": "SELECT count(*) FROM gt_events WHERE NOT valid",
    "vertices": "SELECT (SELECT count(*) FROM gt_leaders) + (SELECT count(*) FROM gt_orgs)",
    "edges": "SELECT (SELECT count(*) FROM gt_leaders) + (SELECT count(*) FROM gt_orgs)",
}


def _pipeline_expected(in_dir: str) -> dict[str, tuple[int, int | None]]:
    con = duck_connect(in_dir, _GT_TABLES)
    try:
        out: dict[str, tuple[int, int | None]] = {
            k: (int(con.execute(sql).fetchone()[0]), None) for k, sql in _GT_COUNTS.items()
        }
        out.update({k: duck_digest(con, sql) for k, sql in _GT_SQL.items()})
        return out
    finally:
        con.close()


def _pipeline_ratios(spark: SparkSession, in_dir: str, rows: dict[str, int]) -> dict[str, float]:
    from leader_graph_spark.operators.llm import structured_extraction

    careers = spark.read.parquet(f"{in_dir}/careers.parquet").withColumnRenamed("url", "uuid")
    ok, n = (
        structured_extraction(careers, id_col="uuid", text_col="career_text")
        .agg(F.sum((F.col("status") == "ok").cast("int")), F.count(F.lit(1)))
        .first()
    )
    con = duck_connect(in_dir, _GT_TABLES)
    try:
        same_time = con.execute(
            f"SELECT count(*) FILTER (WHERE at_same_time) FROM ({_GT_SQL['schoolmates']})"
        ).fetchone()[0]
        work_candidates = con.execute(_CANDIDATES.format(
            src="SELECT uuid AS id, place AS g FROM gt_events WHERE valid AND event_type = 'work'"
                " AND sy IS NOT NULL AND sm IS NOT NULL AND ey IS NOT NULL AND em IS NOT NULL"
        )).fetchone()[0]
    finally:
        con.close()
    return {
        "operators.validation.validate_events_reject.valid_frac":
            rows["events"] / (rows["events"] + rows["quarantine"]),
        "operators.llm.structured_extraction.ok_frac": ok / n,
        "graph.derived.schoolmate_edges.pairs_per_cand": same_time / rows["schoolmates"],
        "graph.derived.historical_colleague_edges.pairs_per_cand":
            rows["colleagues_past"] / work_candidates,
    }


# Equi-join candidate pairs of a self-join on g with id ordering:
# all row pairs in a group minus those sharing an id, halved.
_CANDIDATES = """
WITH r AS ({src}),
g AS (SELECT g, count(*) AS n FROM r GROUP BY g),
d AS (SELECT g, id, count(*) AS m FROM r GROUP BY g, id)
SELECT ((SELECT sum(n * n) FROM g) - (SELECT sum(m * m) FROM d)) // 2
"""


# ---------------------------------------------------------------------------
# graph_queries: registry queries against their oracles
# ---------------------------------------------------------------------------

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# 3000 customers sat on a plan threshold of kcore_copurchase: seeds split
# between two partitionings (52 or 64 tasks, 6.3 or 6.9 MB of shuffle).
# 2000, 2500, 3500 and 4000 customers each give one plan for every seed.
# The smaller end keeps each run short, as all runs share one time budget.
GRAPH_CUSTOMERS = 2500

# query -> the layer function that does its work
GRAPH_QUERIES = {
    "flagship_colleagues_interval": "operators.intervals.interval_overlap_self_join",
    "kcore_copurchase": "graph.algorithms.kcore_subgraph",
}


def _graph_steps(spark: SparkSession, in_dir: str) -> list[Step]:
    from leader_graph_spark.plans import REGISTRY

    def call(q: str) -> Callable[[dict], Frames]:
        return lambda env: {q: REGISTRY[q].spark(spark, in_dir)}

    return [Step(q, layer, call(q)) for q, layer in GRAPH_QUERIES.items()]


def _graph_expected(in_dir: str) -> dict[str, tuple[int, int]]:
    from leader_graph_spark.plans import REGISTRY

    con = duck_connect(in_dir, TPCH_TABLES)
    try:
        return {
            q: duck_digest(con, materialize_ctes(REGISTRY[q].oracle)) for q in GRAPH_QUERIES
        }
    finally:
        con.close()


def _graph_ratios(spark: SparkSession, in_dir: str, rows: dict[str, int]) -> dict[str, float]:
    con = duck_connect(in_dir, TPCH_TABLES)
    try:
        nation_candidates = con.execute(_CANDIDATES.format(
            src="SELECT c_custkey AS id, c_nationkey AS g FROM customer"
                " WHERE c_custkey IN (SELECT o_custkey FROM orders)"
        )).fetchone()[0]
    finally:
        con.close()
    return {
        "operators.intervals.interval_overlap_self_join.pairs_per_cand":
            rows["flagship_colleagues_interval"] / nation_candidates,
    }


WORKLOADS = {
    "pipeline_full": Workload(
        "pipeline_full",
        3,
        lambda d, seed: gen.write_pipeline(d, seed, orgs=PIPELINE_ORGS),
        _pipeline_steps,
        _pipeline_expected,
        _pipeline_ratios,
    ),
    "graph_queries": Workload(
        "graph_queries",
        4,
        lambda d, seed: gen.write_tpch(d, seed, customers=GRAPH_CUSTOMERS),
        _graph_steps,
        _graph_expected,
        _graph_ratios,
    ),
}
