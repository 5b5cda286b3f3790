"""robots.txt parsing + compliance gate -- the crawl-politeness layer
every web-scale ingest runs before fetching or keeping a page.

``parse_robots`` turns raw robots.txt payloads into a rules table
(host, agent, rule, path): comment stripping, case-insensitive
directive keys, and the carry-forward group assignment (each rule
attaches to the most recent ``User-agent`` line -- the common
simplified parser; multi-agent groups are the documented deviation
from RFC 9309).  ``robots_gate`` applies the rules to a URL table
with longest-prefix-match semantics and allow-wins-ties (Google's
published rule).

Scale shape: parsing is one posexplode over line-structured text +
one host-partitioned carry-forward window (frame = lines of ONE
robots file, bounded by file size).  The gate joins urls to rules on
host -- amplification bounded by rules-per-host (robots files are
small) -- then reduces with a per-url struct max; no sorts, no
quadratic surface.  Everything Catalyst; the oracle twin recomputes
both stages in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

RULE_KEYS = ("allow", "disallow")


def robots_corpus(spark, sf_dir):
    """Deterministic synthetic robots.txt per crawl host (the 20
    ``site<k>.example.com`` hosts of ``urls.crawl_urls``): a wildcard
    group with disallow/allow overrides varying by ``k`` residues, an
    empty (no-op) Disallow for even hosts, a comment line, and a
    second ``gptbot`` group for ``k % 3 == 0`` hosts.  Pure SQL
    construction so the DuckDB oracle rebuilds it bit-identically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    k = (F.floor(F.col("doc_id") / 7) % 20).cast("bigint")
    hosts = docs.select(
        k.alias("k"),
        F.concat(
            F.lit("site"), k.cast("string"), F.lit(".example.com")
        ).alias("host"),
    ).distinct()
    nl = chr(10)
    txt = F.concat(
        F.lit("# robots for host "),
        F.col("host"),
        F.lit(nl + "User-Agent: *" + nl + "Disallow: /private" + nl),
        F.lit("Allow: /private/ok" + nl + "Disallow: /articles/1" + nl),
        F.concat(
            F.lit("Allow: /articles/1"),
            (F.col("k") % 10).cast("string"),
            F.lit(nl),
        ),
        F.when(F.col("k") % 2 == 0, F.lit("Disallow:" + nl)).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("k") % 3 == 0,
            F.lit("User-agent: gptbot" + nl + "Disallow: /" + nl),
        ).otherwise(F.lit("")),
    )
    return hosts.select("host", txt.alias("robots_txt"))


def parse_robots(df):
    """Rules table from ``(host, robots_txt)``: ``(host, line_idx,
    agent, rule, path)`` for allow/disallow lines (path may be '' --
    the no-op Disallow -- kept so the table is a faithful parse; the
    gate drops it)."""
    lines = df.select(
        "host",
        F.posexplode(F.split(F.col("robots_txt"), chr(10))).alias(
            "line_idx", "raw"
        ),
    )
    # CRLF files leave a CR on every line; drop it before the comment
    # strip, whose class pattern means the same in Java and RE2 (the
    # oracle twin) with no reliance on '.' or '$' semantics
    clean = F.trim(F.regexp_replace(
        F.translate(F.col("raw"), chr(13), ""), r"#[^\n]*", ""
    ))
    has_colon = F.instr(clean, ":") > 0
    key = F.lower(F.trim(F.split_part(clean, F.lit(":"), F.lit(1))))
    value = F.trim(
        F.substring(clean, F.instr(clean, ":") + 1, F.lit(2147483647))
    )
    parsed = lines.select(
        "host",
        "line_idx",
        F.when(has_colon, key).alias("key"),
        F.when(has_colon, value).alias("value"),
    )
    w = (
        Window.partitionBy("host")
        .orderBy("line_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    agent = F.last(
        F.when(F.col("key") == "user-agent", F.col("value")), True
    ).over(w)
    return (
        parsed.withColumn("agent", agent)
        .filter(
            F.col("key").isin(*RULE_KEYS) & F.col("agent").isNotNull()
        )
        .select(
            "host",
            "line_idx",
            "agent",
            F.col("key").alias("rule"),
            F.col("value").alias("path"),
        )
    )


def robots_gate(urls_df, rules_df, agent="*"):
    """Compliance check for ``(doc_id, url)`` against a parsed rules
    table: normalized host + raw path (query/fragment excluded, ''
    -> '/'), longest-prefix rule match for the requested agent,
    allow wins length ties, no match = allowed.  Output ``(doc_id,
    url, host, path, matched_rule, matched_path, allowed)``."""
    nofrag = F.regexp_replace(F.col("url"), "#.*$", "")
    rest = F.regexp_replace(nofrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    auth = F.regexp_extract(rest, "^[^/?]*", 0)
    host = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(auth), "^[^@]*@", ""),
            ":[0-9]*$",
            "",
        ),
        "^www\\.",
        "",
    )
    pathq = F.substring(rest, F.length(auth) + 1, F.lit(2147483647))
    path = F.regexp_extract(pathq, "^[^?]*", 0)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    u = urls_df.select(
        "doc_id", "url", host.alias("host"), path.alias("path")
    )
    r = rules_df.filter(
        (F.col("agent") == agent) & (F.col("path") != "")
    ).select(
        "host",
        F.col("rule").alias("r_rule"),
        F.col("path").alias("r_path"),
    )
    m = (
        u.join(r, "host")
        .filter(F.col("path").startswith(F.col("r_path")))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.length("r_path").alias("plen"),
                    (F.col("r_rule") == "allow").cast("int").alias(
                        "is_allow"
                    ),
                    F.col("r_path").alias("mp"),
                )
            ).alias("m")
        )
        .select(
            "doc_id",
            F.when(F.col("m.is_allow") == 1, F.lit("allow"))
            .otherwise(F.lit("disallow"))
            .alias("matched_rule"),
            F.col("m.mp").alias("matched_path"),
            (F.col("m.is_allow") == 1).alias("__allowed"),
        )
    )
    return u.join(m, "doc_id", "left").select(
        "doc_id",
        "url",
        "host",
        "path",
        "matched_rule",
        "matched_path",
        F.coalesce("__allowed", F.lit(True)).alias("allowed"),
    )
