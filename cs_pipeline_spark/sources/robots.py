"""robots.txt decode — pure JVM-side text parsing (REP, RFC 9309).

Crawl compliance is a first-class training-data concern: which
user-agents a host blocks, whether AI crawlers are fully disallowed,
and the crawl-delay budget all gate what may enter the corpus at
all. Like ``sources/srt.py``, this parser stays entirely in the JVM:
wholetext scan → line explode with positions → directive
classification by regex → GROUP ASSIGNMENT as a running count of
User-agent lines (the stateful part of the format: every rule binds
to the most recent User-agent above it) → per-(file, agent) rule
census. No Python workers.

Fixture content is stated by an arithmetic formula, so the DuckDB
oracle recomputes every output column — a full value-hash check.

Scale: text scan → per-file window (robots.txt is KB-scale by
convention; the partition bound is the file, never the corpus) →
one bounded aggregate. Malformed lines simply classify as no
directive and drop out — the REP's own lenient-parse rule — so this
op never raises on garbage (text formats degrade row-by-row; the
srt.py module docstring states the contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cs_pipeline_spark.registry import register
from cs_pipeline_spark.sources.binfiles import write_files
from cs_pipeline_spark.sources.scans import _fixture, _scratch

_N_ROBOTS = 6


def _robots_groups(i: int) -> list[dict]:
    groups = [{"agent": "*", "g": 0}]
    if i % 2 == 0:
        groups.append({"agent": "trainbot", "g": 1})
    for gr in groups:
        g = gr["g"]
        gr["n_disallow"] = 1 + (i + g) % 3
        gr["n_allow"] = (i + g) % 2
        gr["crawl_delay"] = 5 * ((i + g) % 3)
        gr["blocked_all"] = 1 if g == 1 and i % 4 == 0 else 0
    return groups


def encode_robots(i: int) -> str:
    out = [f"# generated fixture {i}"]
    for gr in _robots_groups(i):
        out.append(f"User-agent: {gr['agent']}")
        for k in range(gr["n_disallow"]):
            if k == 0 and gr["blocked_all"]:
                out.append("Disallow: /")
            else:
                out.append(f"Disallow: /private{i}{gr['g']}{k}")
        for k in range(gr["n_allow"]):
            out.append(f"Allow: /pub{i}{gr['g']}{k}  # ok path")
        if gr["crawl_delay"]:
            out.append(f"Crawl-delay: {gr['crawl_delay']}")
        out.append("")
    if i % 2 == 1:
        out.append("Sitemap: https://example.com/sitemap.xml")
    return "\n".join(out) + "\n"


@_fixture
def _fx_robots(spark: SparkSession, sf_dir: str) -> None:
    names = [f"host-{i:03d}.robots.txt" for i in range(_N_ROBOTS)]
    write_files(
        _scratch(sf_dir, "real_robots"), names,
        lambda i: encode_robots(i).encode(),
    )


_ROBOTS_ORACLE = f"""
    WITH hosts AS (SELECT unnest(range(0, {_N_ROBOTS})) AS i),
    groups AS (
      SELECT i, 0 AS g, '*' AS agent FROM hosts
      UNION ALL
      SELECT i, 1, 'trainbot' FROM hosts WHERE i % 2 = 0)
    SELECT printf('host-%03d.robots.txt', CAST(i AS INT)) AS fname,
           agent,
           CAST(1 + (i + g) % 3 AS BIGINT) AS n_disallow,
           CAST((i + g) % 2 AS BIGINT) AS n_allow,
           CAST(5 * ((i + g) % 3) AS BIGINT) AS crawl_delay,
           CAST(CASE WHEN g = 1 AND i % 4 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS blocked_all,
           CAST(i % 2 AS BIGINT) AS n_sitemaps
    FROM groups
"""


@register(
    "scan_robots_rules",
    _ROBOTS_ORACLE,
    doc="robots.txt (REP) decode, pure JVM: line explode + running "
    "User-agent count assigns each rule to its group, then per-"
    "(host, agent) Disallow/Allow census, crawl-delay, the "
    "blocked-all flag (Disallow: /), and the host's sitemap count — "
    "the crawl-compliance gate, hash-checked against the fixture "
    "formula; inline comments stripped per the REP lenient rule",
)
def scan_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compliance question a training-data crawler must answer
    per host: which agents are restricted, is anything fully blocked
    (``Disallow: /``), and what crawl budget applies. The stateful
    bit of the format — rules bind to the most recent User-agent
    line — is a running count over line positions (per-file window,
    KB-bounded); inline ``# comments`` are stripped before directive
    classification; unknown/garbage lines drop out silently per the
    REP's lenient-parse rule.

    Scale: wholetext scan → line explode → per-file window → one
    bounded aggregate; the sitemap census joins back onto the ≤2
    group rows per host on the same fname key.
    """
    from pyspark.sql import Window

    raw = spark.read.text(
        _scratch(sf_dir, "real_robots") + "/*.robots.txt", wholetext=True
    ).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname"),
        "value",
    )
    lines = raw.select(
        "fname",
        F.posexplode(F.split(F.col("value"), r"\r?\n")).alias(
            "pos", "line"
        ),
    )
    clean = F.trim(F.regexp_replace("line", r"#.*$", ""))
    parsed = lines.select(
        "fname",
        "pos",
        F.lower(
            F.regexp_extract(clean, r"^([A-Za-z-]+)\s*:", 1)
        ).alias("directive"),
        F.trim(F.regexp_extract(clean, r"^[A-Za-z-]+\s*:(.*)$", 1)).alias(
            "val"
        ),
    ).filter(F.col("directive") != "")
    w = (
        Window.partitionBy("fname")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gid = F.sum(
        F.when(F.col("directive") == "user-agent", 1).otherwise(0)
    ).over(w)
    tagged = parsed.withColumn("gid", gid)
    sitemaps = tagged.groupBy("fname").agg(
        F.sum(
            F.when(F.col("directive") == "sitemap", 1).otherwise(0)
        ).cast("long").alias("n_sitemaps")
    )
    groups = (
        tagged.filter(F.col("gid") >= 1)
        .groupBy("fname", "gid")
        .agg(
            F.max(
                F.when(F.col("directive") == "user-agent", F.col("val"))
            ).alias("agent"),
            F.sum(
                F.when(
                    (F.col("directive") == "disallow")
                    & (F.col("val") != ""),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_disallow"),
            F.sum(
                F.when(
                    (F.col("directive") == "allow") & (F.col("val") != ""),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_allow"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("directive") == "crawl-delay",
                        F.col("val").cast("long"),
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("crawl_delay"),
            F.max(
                F.when(
                    (F.col("directive") == "disallow")
                    & (F.col("val") == "/"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("blocked_all"),
        )
    )
    # no broadcast hint: the sitemap census is one row per HOST —
    # corpus-proportional; AQE broadcasts it at small scale on its own
    return groups.join(sitemaps, "fname").select(
        "fname",
        "agent",
        "n_disallow",
        "n_allow",
        "crawl_delay",
        "blocked_all",
        "n_sitemaps",
    )
