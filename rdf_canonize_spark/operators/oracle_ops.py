"""DuckDB oracle SQL for the training-data operators (dedup,
similarity, text analysis).  Formulations mirror the Spark operators
exactly: portable hashes (md5/sha256 hex), identical shingle and token
definitions, identical tie-break orders, double-precision vector math.
"""

from __future__ import annotations

from .dedup import LSH_BANDS, N_MINHASH, SHINGLE_N, SIMHASH_BITS
from .similarity import (
    EMB_DIM,
    N_QUERIES,
    TOP_K,
    _hyperplanes,
)
from .textstats import (
    DOC_MIN_KEPT_LINES,
    FINGERPRINT_WINDOW,
    LANG_ORDER,
    LINE_MIN_WORDS,
    LINE_TERMINAL_CHARS,
    LINE_WORD_REGEX,
    NON_WORD_CLASS,
    STOPWORDS,
    TOKEN_PATTERN,
    WS_CHARS,
)

CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         substr(text, strpos(text, ' ') + 1) AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 10 = 0
)
"""

SHINGLES_CTE = f"""
docw AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM corpus
),
shingles AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_distinct(list_transform(
        range(0, greatest(len(words) - {SHINGLE_N}, 0) + 1),
        i -> array_to_string(
               words[CAST(i + 1 AS INT):CAST(i + {SHINGLE_N} AS INT)],
               ' ')
      ))) AS shingle
    FROM docw
  ) WHERE length(shingle) > 0
)
"""


def exact_dedup():
    return f"""WITH {CORPUS_CTE}
SELECT sha256(text) AS text_sha256,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM corpus GROUP BY sha256(text)"""


def jaccard_pairs(threshold=0.5):
    return f"""WITH {CORPUS_CTE}, {SHINGLES_CTE},
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(c.n_common AS DOUBLE)
         / (sa.n_shingles + sb.n_shingles - c.n_common) AS jaccard
FROM common c
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE CAST(c.n_common AS DOUBLE)
      / (sa.n_shingles + sb.n_shingles - c.n_common) >= {threshold}"""


MINHASH_CTE = f"""
mh AS (
  SELECT doc_id, seed,
         MIN(md5(CAST(seed AS VARCHAR) || '|' || shingle)) AS minhash
  FROM shingles, (SELECT unnest(range(0, {N_MINHASH})) AS seed)
  GROUP BY doc_id, seed
)
"""


def minhash_signatures():
    return f"""WITH {CORPUS_CTE}, {SHINGLES_CTE}, {MINHASH_CTE}
SELECT doc_id, CAST(seed AS INT) AS seed, minhash FROM mh"""


BANDS_CTE = f"""
bands AS (
  SELECT doc_id, CAST(seed // {N_MINHASH // LSH_BANDS} AS INT) AS band,
         md5(string_agg(minhash, '' ORDER BY seed)) AS band_key
  FROM mh
  GROUP BY doc_id, seed // {N_MINHASH // LSH_BANDS}
)
"""


def lsh_candidates():
    return f"""WITH {CORPUS_CTE}, {SHINGLES_CTE}, {MINHASH_CTE}, {BANDS_CTE}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id"""


def _vpairs_ctes(threshold):
    """Shared CTE block: LSH band candidates -> exact Jaccard on
    survivors only -> ``vpairs(doc_a, doc_b, jaccard)``.  ONE
    definition so the lsh_verified and clustering oracles cannot
    drift."""
    return f"""cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
vpairs AS (
  SELECT c.doc_a, c.doc_b,
         CAST(c.n_common AS DOUBLE)
           / (sa.n_shingles + sb.n_shingles - c.n_common) AS jaccard
  FROM common c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE CAST(c.n_common AS DOUBLE)
        / (sa.n_shingles + sb.n_shingles - c.n_common) >= {threshold}
)"""


def length_histogram():
    """Mirrors textstats.length_histogram: shared tokenizer,
    length(bin(n)) power-of-2 bucket (parity pinned by probe), INT
    bucket, HUGEINT sums cast to BIGINT."""
    return f"""WITH t AS (
  SELECT lang,
    CAST(len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
         AS BIGINT) AS n
  FROM documents
)
SELECT lang,
  CAST(CASE WHEN n <= 0 THEN 0 ELSE length(bin(n)) END AS INT)
    AS len_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n) AS BIGINT) AS total_tokens,
  CAST(MIN(n) AS BIGINT) AS min_tokens,
  CAST(MAX(n) AS BIGINT) AS max_tokens
FROM t GROUP BY lang,
  CAST(CASE WHEN n <= 0 THEN 0 ELSE length(bin(n)) END AS INT)"""


def url_blocklist(blocked_hosts=("site3.example.com",
                                 "site13.example.com"),
                  blocked_suffixes=(".example.net",)):
    """Mirrors urls.blocklist_filter over the crawl_urls corpus: the
    same anchored host-extraction regex chain (DuckDB regexp_replace
    replaces first match only -- anchoring makes both engines
    identical), fixed host -> suffix rule order."""
    hosts = ", ".join("'" + h + "'" for h in blocked_hosts)
    sfx = " OR ".join(
        f"host LIKE '%{s}'" for s in blocked_suffixes
    )
    return f"""WITH {_URL_CORPUS_CTE.strip()},
h AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(regexp_replace(lower(
      regexp_extract(
        regexp_replace(regexp_replace(url, '#.*$', ''),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
        '^[^/?]*')),
      '^[^@]*@', ''), ':[0-9]*$', ''), '^www\\.', '') AS host
  FROM urls
)
SELECT doc_id, url, host,
  CASE WHEN host IN ({hosts}) THEN 'host'
       WHEN {sfx} THEN 'suffix'
       ELSE NULL END AS block_reason,
  (CASE WHEN host IN ({hosts}) THEN 'host'
        WHEN {sfx} THEN 'suffix'
        ELSE NULL END) IS NOT NULL AS blocked
FROM h"""


def quality_threshold(keep_frac=0.7):
    """Mirrors textstats.quality_threshold: composes the quality
    oracle as a nested WITH, histogram-level cumulative window
    (HUGEINT sums cast to BIGINT), integer ceil identity for the
    target, largest eligible quality level."""
    k_micro = int(round(keep_frac * 1e6))
    return f"""WITH q AS MATERIALIZED (
  SELECT t.doc_id, t.quality FROM ({quality_score()}) t
),
hist AS MATERIALIZED (
  SELECT d.lang,
    CAST(round(q.quality * 1000000) AS BIGINT) AS q_micro,
    COUNT(*) AS c
  FROM q JOIN documents d USING (doc_id)
  GROUP BY d.lang, CAST(round(q.quality * 1000000) AS BIGINT)
),
cum AS MATERIALIZED (
  SELECT lang, q_micro,
    CAST(SUM(c) OVER (PARTITION BY lang ORDER BY q_micro DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum
  FROM hist
),
tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs FROM hist GROUP BY lang
),
thr AS (
  SELECT c.lang, t.n_docs,
    CAST((t.n_docs * {k_micro} + 999999) // 1000000 AS BIGINT)
      AS n_target,
    MAX(c.q_micro) AS thr_micro
  FROM cum c JOIN tot t USING (lang)
  WHERE c.cum >= (t.n_docs * {k_micro} + 999999) // 1000000
  GROUP BY c.lang, t.n_docs
)
SELECT th.lang, th.n_docs, th.n_target, th.thr_micro,
  cu.cum AS n_kept
FROM thr th
JOIN cum cu ON th.lang = cu.lang AND th.thr_micro = cu.q_micro"""


_ROBOTS_CORPUS_CTE = """
rh AS (
  SELECT DISTINCT
    CAST(floor(doc_id / 7) AS BIGINT) % 20 AS k,
    'site' || CAST(CAST(floor(doc_id / 7) AS BIGINT) % 20 AS VARCHAR)
      || '.example.com' AS host
  FROM documents
),
robots AS (
  SELECT host,
    '# robots for host ' || host || chr(10)
    || 'User-Agent: *' || chr(10)
    || 'Disallow: /private' || chr(10)
    || 'Allow: /private/ok' || chr(10)
    || 'Disallow: /articles/1' || chr(10)
    || 'Allow: /articles/1' || CAST(k % 10 AS VARCHAR) || chr(10)
    || (CASE WHEN k % 2 = 0 THEN 'Disallow:' || chr(10) ELSE '' END)
    || (CASE WHEN k % 3 = 0
        THEN 'User-agent: gptbot' || chr(10) || 'Disallow: /'
             || chr(10)
        ELSE '' END) AS robots_txt
  FROM rh
)
"""

_ROBOTS_RULES_CTES = """
rlines AS (
  SELECT host, CAST(i AS INT) - 1 AS line_idx,
    trim(regexp_replace(replace(raw, chr(13), ''), '#[^\\n]*', ''))
      AS clean
  FROM (
    SELECT host, unnest(ls) AS raw,
      unnest(range(1, len(ls) + 1)) AS i
    FROM (SELECT host, string_split(robots_txt, chr(10)) AS ls
          FROM robots)
  )
),
rparsed AS (
  SELECT host, line_idx,
    CASE WHEN strpos(clean, ':') > 0
      THEN lower(trim(split_part(clean, ':', 1))) END AS key,
    CASE WHEN strpos(clean, ':') > 0
      THEN trim(substr(clean, strpos(clean, ':') + 1)) END AS value
  FROM rlines
),
rgrouped AS (
  SELECT host, line_idx, key, value,
    last_value(CASE WHEN key = 'user-agent' THEN value END
               IGNORE NULLS)
      OVER (PARTITION BY host ORDER BY line_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS agent
  FROM rparsed
),
rrules AS (
  SELECT host, line_idx, agent, key AS rule, value AS path
  FROM rgrouped
  WHERE key IN ('allow', 'disallow') AND agent IS NOT NULL
)
"""


def robots_rules():
    """Mirrors robots.parse_robots over robots.robots_corpus: zipped
    parallel unnests for line indexing, comment strip + trim,
    case-insensitive keys, IGNORE NULLS carry-forward group
    assignment."""
    return f"""WITH {_ROBOTS_CORPUS_CTE.strip()},
{_ROBOTS_RULES_CTES.strip()}
SELECT host, line_idx, agent, rule, path FROM rrules"""


def robots_gate(agent="*"):
    """Mirrors robots.robots_gate over the crawl_urls corpus: the
    anchored host/path extraction, starts_with prefix match, struct
    max for longest-prefix / allow-wins-ties, left join for
    unmatched urls."""
    return f"""WITH {_URL_CORPUS_CTE.strip()},
{_ROBOTS_CORPUS_CTE.strip()},
{_ROBOTS_RULES_CTES.strip()},
u AS MATERIALIZED (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(regexp_replace(lower(
      regexp_extract(
        regexp_replace(regexp_replace(url, '#.*$', ''),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
        '^[^/?]*')),
      '^[^@]*@', ''), ':[0-9]*$', ''), '^www\\.', '') AS host,
    CASE WHEN p = '' THEN '/' ELSE p END AS path
  FROM (
    SELECT doc_id, url,
      regexp_extract(substr(rest, length(
        regexp_extract(rest, '^[^/?]*')) + 1), '^[^?]*') AS p,
      rest
    FROM (
      SELECT doc_id, url,
        regexp_replace(regexp_replace(url, '#.*$', ''),
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
      FROM urls
    )
  )
),
m AS (
  SELECT u.doc_id,
    max(struct_pack(
      plen := length(r.path),
      is_allow := CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END,
      mp := r.path)) AS mm
  FROM u JOIN rrules r
    ON u.host = r.host AND r.agent = '{agent}' AND r.path <> ''
    AND starts_with(u.path, r.path)
  GROUP BY u.doc_id
)
SELECT u.doc_id, u.url, u.host, u.path,
  CASE WHEN m.mm IS NULL THEN NULL
       WHEN (m.mm).is_allow = 1 THEN 'allow'
       ELSE 'disallow' END AS matched_rule,
  (m.mm).mp AS matched_path,
  COALESCE((m.mm).is_allow = 1, TRUE) AS allowed
FROM u LEFT JOIN m USING (doc_id)"""


def temperature_sample(target_frac=0.5):
    """Mirrors sampling.temperature_sample: integer micro-unit sqrt
    weights, HUGEINT integral division (== Spark DECIMAL(38,0) div,
    pinned), lpad(lower(hex)) threshold with the 'g' keep-all
    sentinel, md5 8-hex bucket comparison."""
    t_micro = int(round(target_frac * 1e6))
    return f"""WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(floor(sqrt(COUNT(*)) * 1000000) AS BIGINT) AS w
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(w) AS BIGINT) AS tw, CAST(SUM(n) AS BIGINT) AS tn
  FROM counts
),
k AS (
  SELECT source,
    least(1000000, CAST(
      (CAST({t_micro} AS HUGEINT) * tn * w)
        // (CAST(tw AS HUGEINT) * n) AS BIGINT)) AS k_micro
  FROM counts, tot
),
thr AS (
  SELECT source, k_micro,
    CASE WHEN k_micro >= 1000000 THEN 'g'
      ELSE lpad(lower(hex(k_micro * 4294967296 // 1000000)), 8, '0')
    END AS thr
  FROM k
)
SELECT d.doc_id, d.source,
  substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS bucket,
  t.k_micro
FROM documents d JOIN thr t USING (source)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr"""


def incremental_dedup(threshold=0.5):
    """Mirrors dedup.incremental_dedup over the CORPUS_CTE split:
    old = the original documents (doc_id < 1000000), new = the
    derived variants.  Shares the shingle/minhash/band CTEs; the
    candidate join is restricted to the old x new quadrant; exact
    precedence over near; match = MIN old id."""
    return f"""WITH {CORPUS_CTE}, {SHINGLES_CTE}, {MINHASH_CTE}, {BANDS_CTE},
oh AS (
  SELECT sha256(text) AS h, MIN(doc_id) AS exact_match
  FROM corpus WHERE doc_id < 1000000 GROUP BY sha256(text)
),
ex AS (
  SELECT n.doc_id, o.exact_match
  FROM (SELECT doc_id, sha256(text) AS h FROM corpus
        WHERE doc_id >= 1000000) n
  LEFT JOIN oh o USING (h)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
near AS (
  SELECT c.doc_b AS doc_id, MIN(c.doc_a) AS near_match
  FROM common c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE CAST(c.n_common AS DOUBLE)
        / (sa.n_shingles + sb.n_shingles - c.n_common) >= {threshold}
  GROUP BY c.doc_b
)
SELECT e.doc_id,
  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
       WHEN nr.near_match IS NOT NULL THEN 'near_dup'
       ELSE 'kept' END AS status,
  COALESCE(e.exact_match, nr.near_match) AS match_id
FROM ex e LEFT JOIN near nr USING (doc_id)"""


def lsh_verified_pairs(threshold=0.5):
    """Composed scale path: LSH band candidates -> exact Jaccard on
    survivors only (mirrors dedup.lsh_verified_pairs)."""
    return f"""WITH {CORPUS_CTE}, {SHINGLES_CTE}, {MINHASH_CTE}, {BANDS_CTE},
{_vpairs_ctes(threshold)}
SELECT doc_a, doc_b, jaccard FROM vpairs"""


def dedup_clusters(threshold=0.5):
    """Recursive-CTE transitive closure over the verified pair list;
    keeper = MIN doc id reachable (exact equality with hash-min label
    propagation, which is order-independent)."""
    return f"""WITH RECURSIVE {CORPUS_CTE}, {SHINGLES_CTE}, {MINHASH_CTE},
{BANDS_CTE},
{_vpairs_ctes(threshold)},
und AS (
  SELECT doc_a AS a, doc_b AS b FROM vpairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM vpairs
),
reach(a, b) AS (
  SELECT a, a FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, MIN(b) AS keeper_id FROM reach GROUP BY a"""


def simhash():
    sums = []
    for j in range(SIMHASH_BITS):
        d = j // 4 + 1
        r = j % 4
        digit = f"(strpos('0123456789abcdef', substr(h, {d}, 1)) - 1)"
        bit = f"(({digit} >> {r}) & 1)"
        sums.append(
            f"SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
    concat = " || ".join(
        f"(CASE WHEN b{j} > 0 THEN '1' ELSE '0' END)"
        for j in range(SIMHASH_BITS - 1, -1, -1)
    )
    return f"""WITH {CORPUS_CTE},
wrds AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM corpus
),
hashed AS (
  SELECT doc_id, md5(w) AS h FROM wrds WHERE length(w) > 0
),
acc AS (
  SELECT doc_id, {', '.join(sums)} FROM hashed GROUP BY doc_id
)
SELECT doc_id, {concat} AS simhash_bits FROM acc"""


# --- text analysis --------------------------------------------------------------
def _stop_list(lang):
    return "[" + ", ".join("'%s'" % w for w in STOPWORDS[lang]) + "]"


def lang_id():
    hit_exprs = ", ".join(
        f"len(list_filter(string_split(text, ' '), "
        f"w -> list_contains({_stop_list(lang)}, w))) AS {lang}_hits"
        for lang in LANG_ORDER
    )
    return f"""WITH hits AS (
  SELECT doc_id, {hit_exprs},
         len(string_split(text, ' ')) AS n_words
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN en_hits >= greatest(de_hits, fr_hits, es_hits) THEN 'en'
    WHEN de_hits >= greatest(fr_hits, es_hits) THEN 'de'
    WHEN fr_hits >= es_hits THEN 'fr'
    ELSE 'es'
  END AS lang_pred,
  en_hits, de_hits, fr_hits, es_hits, n_words
FROM hits"""


def quality_score():
    en = _stop_list("en")
    return f"""WITH base AS (
  SELECT doc_id,
    length(text) AS n_chars,
    len(string_split(text, ' ')) AS n_words,
    len(string_split_regex(text, '{NON_WORD_CLASS}')) - 1 AS n_punct,
    len(list_filter(string_split(text, ' '),
        w -> list_contains({en}, w))) AS n_stop
  FROM documents
),
feat AS (
  SELECT doc_id, n_chars, n_words, n_punct,
    CAST(n_stop AS DOUBLE) / greatest(n_words, 1) AS stop_ratio,
    CAST(n_chars - n_words + 1 AS DOUBLE)
      / greatest(n_words, 1) AS mean_word_len,
    CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
  FROM base
)
SELECT doc_id, n_chars, n_words, n_punct,
  round(stop_ratio, 6) AS stop_ratio,
  round(mean_word_len, 6) AS mean_word_len,
  round(punct_ratio, 6) AS punct_ratio,
  round(
    least(n_words / 100.0, 1.0) * 0.4
    + least(stop_ratio * 5.0, 1.0) * 0.3
    + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality
FROM feat"""


def token_counts():
    return f"""SELECT doc_id,
  len(string_split(text, ' ')) AS n_words,
  len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS n_tokens
FROM documents"""


def repetition_stats():
    """Mirrors textstats.repetition_stats (FULL Gopher repetition
    ladder): same n-gram construction for every rung n=2..10, the same
    (count, char length) struct-max top-gram choice (DuckDB struct max
    == Spark struct max, lexicographic), the same clamped char-mass
    fractions, integer-division-to-DOUBLE arithmetic, and the
    round-then-compare flag.  Thresholds interpolated via Python repr
    for bit-identical DOUBLE comparison (CLAUDE.md recipe)."""
    from .textstats import (
        REP_DUP_NGRAM_CHAR_MAX,
        REP_DUP_TRIGRAM_MAX,
        REP_MIN_WORDS,
        REP_NS,
        REP_TOP_BIGRAM_MAX,
        REP_TOP_NGRAM_CHAR_MAX,
    )

    bg_max = repr(float(REP_TOP_BIGRAM_MAX))
    tg_max = repr(float(REP_DUP_TRIGRAM_MAX))
    min_w = int(REP_MIN_WORDS)

    gram_selects = []
    for n in REP_NS:
        concat = " || ' ' || ".join(f"w[i + {j}]" if j else "w[i]"
                                    for j in range(n))
        gram_selects.append(
            f"  SELECT doc_id, {n} AS g, {concat} AS gram\n"
            f"  FROM w, UNNEST(range(1, n_words - {n} + 2)) AS u(i)"
        )
    grams_sql = "\n  UNION ALL\n".join(gram_selects)

    mass_pivots = []
    for n in REP_TOP_NGRAM_CHAR_MAX:
        mass_pivots.append(
            f"    MAX(CASE WHEN g = {n} THEN tops['c'] * tops['l']"
            f" END) AS t{n}_mass"
        )
    for n in REP_DUP_NGRAM_CHAR_MAX:
        mass_pivots.append(
            f"    MAX(CASE WHEN g = {n} THEN dup_mass END)"
            f" AS d{n}_mass"
        )
    mass_pivots_sql = ",\n".join(mass_pivots)

    def cf(mass):
        return (
            f"round(CASE WHEN w.n_chars > 0 THEN "
            f"least(CAST(1.0 AS DOUBLE), coalesce("
            f"CAST({mass} AS DOUBLE) / CAST(w.n_chars AS DOUBLE), "
            f"0.0)) ELSE 0.0 END, 6)"
        )

    frac_sql = []
    frac_names = []
    flag_terms = [
        f"top_bigram_frac > CAST({bg_max} AS DOUBLE)",
        f"dup_trigram_frac > CAST({tg_max} AS DOUBLE)",
    ]
    for n, thr in REP_TOP_NGRAM_CHAR_MAX.items():
        name = f"top_{n}gram_char_frac"
        frac_sql.append(f"    {cf(f's.t{n}_mass')} AS {name}")
        frac_names.append(name)
        flag_terms.append(f"{name} > CAST({float(thr)!r} AS DOUBLE)")
    for n, thr in REP_DUP_NGRAM_CHAR_MAX.items():
        name = f"dup_{n}gram_char_frac"
        frac_sql.append(f"    {cf(f's.d{n}_mass')} AS {name}")
        frac_names.append(name)
        flag_terms.append(f"{name} > CAST({float(thr)!r} AS DOUBLE)")
    frac_sql_s = ",\n".join(frac_sql)
    frac_names_s = ", ".join(frac_names)
    flag_s = "\n        OR ".join(flag_terms)

    return f"""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars
  FROM documents
),
grams AS (
{grams_sql}
),
counts AS (
  SELECT doc_id, g, gram, COUNT(*) AS c
  FROM grams GROUP BY doc_id, g, gram
),
per_g AS (
  SELECT doc_id, g, MAX(c) AS top_c, SUM(c) AS tot_c,
         COUNT(*) AS distinct_c,
         max({{'c': c, 'l': length(gram)}}) AS tops,
         SUM(CASE WHEN c > 1 THEN c * length(gram) END) AS dup_mass
  FROM counts GROUP BY doc_id, g
),
stats AS (
  SELECT doc_id,
    MAX(CASE WHEN g = 2 THEN top_c END) AS bg_top,
    MAX(CASE WHEN g = 2 THEN tot_c END) AS bg_tot,
    MAX(CASE WHEN g = 3 THEN tot_c END) AS tg_tot,
    MAX(CASE WHEN g = 3 THEN distinct_c END) AS tg_distinct,
{mass_pivots_sql}
  FROM per_g GROUP BY doc_id
),
feat AS (
  SELECT w.doc_id, w.n_words,
    round(1 - len(list_distinct(w.w)) / CAST(w.n_words AS DOUBLE), 6)
      AS dup_word_frac,
    round(coalesce(s.bg_top / CAST(s.bg_tot AS DOUBLE), 0.0), 6)
      AS top_bigram_frac,
    round(coalesce(1 - s.tg_distinct / CAST(s.tg_tot AS DOUBLE), 0.0),
          6) AS dup_trigram_frac,
{frac_sql_s}
  FROM w LEFT JOIN stats s ON w.doc_id = s.doc_id
)
SELECT doc_id, n_words, dup_word_frac, top_bigram_frac,
  dup_trigram_frac, {frac_names_s},
  (n_words >= {min_w}
   AND ({flag_s}))
    AS is_repetitive
FROM feat"""


def fingerprint():
    w = FINGERPRINT_WINDOW
    return f"""SELECT doc_id,
  list_min(list_transform(
    range(1, greatest(length(text) - {w} + 1, 1) + 1),
    i -> md5(substr(text, CAST(i AS INT), {w}))
  )) AS min_gram_hash,
  md5(text) AS full_hash
FROM documents"""


def media_features():
    """Metadata columns of the multimodal feature extractor: the html
    payload is a deterministic function of the document, so byte length
    and sha256 are SQL-derivable."""
    from ..pipeline.pages import duckdb_statements_sql

    stmts = duckdb_statements_sql("k")
    return f"""WITH docs AS (
  SELECT doc_id AS k, text AS base_text FROM documents
),
pages AS (
  SELECT
    'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
      AS url,
    '<html><body><p>' || base_text || ' ' || {stmts}
      || '</p></body></html>' AS html_str
  FROM docs
)
SELECT url,
  'text/html' AS media_type,
  CAST(octet_length(encode(html_str)) AS INT) AS media_len,
  sha256(html_str) AS media_sha256,
  'stubbed' AS decode_status
FROM pages"""


def media_ahash():
    """Mirrors multimodal.image_ahash on the html corpus: every
    payload takes the deterministic sha256-prefix fallback (no raster
    magic bytes), which is SQL-derivable from the page construction.
    The REAL decode path is pinned by the planted-BMP tests."""
    from ..pipeline.pages import duckdb_statements_sql

    stmts = duckdb_statements_sql("k")
    return f"""WITH docs AS (
  SELECT doc_id AS k, text AS base_text FROM documents
),
pages AS (
  SELECT
    'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
      AS url,
    '<html><body><p>' || base_text || ' ' || {stmts}
      || '</p></body></html>' AS html_str
  FROM docs
)
SELECT url,
  substr(sha256(html_str), 1, 16) AS ahash,
  'stubbed' AS decode_status
FROM pages"""


def _hexband_int(col, band):
    """SQL for the 16-bit integer value of 4 hex chars at band
    ``band`` (0-based) of column ``col`` -- the documented
    strpos('0123456789abcdef', c) - 1 hex-digit recipe."""
    terms = []
    for j in range(4):
        pos = 4 * band + 1 + j
        d = f"(strpos('0123456789abcdef', substr({col}, {pos}, 1)) - 1)"
        mult = 16 ** (3 - j)
        terms.append(f"{mult} * {d}" if mult > 1 else d)
    return "(" + " + ".join(terms) + ")"


def ahash_near_dups(max_hamming=3):
    """Mirrors __spark_entry__.q_media_ahash_near_dups +
    multimodal.ahash_near_dups: the synthetic hash table (md5-prefix
    base, translate-trick 1-bit-flip twins, exact twins), 4 x 16-bit
    banding, DISTINCT candidates, per-band bit_count(xor) Hamming."""
    ham = " + ".join(
        f"bit_count(xor({_hexband_int('ahash_a', i)},"
        f" {_hexband_int('ahash_b', i)}))"
        for i in range(4)
    )
    return f"""WITH hashes AS MATERIALIZED (
  SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS url,
    substr(md5(text), 1, 16) AS ahash
  FROM documents
  UNION ALL
  SELECT 'near:' || CAST(doc_id AS VARCHAR),
    substr(md5(text), 1, 4)
      || translate(substr(md5(text), 5, 1),
                   '0123456789abcdef', '1032547698badcfe')
      || substr(md5(text), 6, 11)
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT 'copy:' || CAST(doc_id AS VARCHAR),
    substr(md5(text), 1, 16)
  FROM documents WHERE doc_id % 7 = 0
),
bands AS (
  SELECT url, ahash, b,
    substr(ahash, CAST(1 + 4 * b AS INT), 4) AS v
  FROM hashes, (SELECT unnest(range(0, 4)) AS b)
),
cand AS (
  SELECT DISTINCT a.url AS url_a, bb.url AS url_b,
    a.ahash AS ahash_a, bb.ahash AS ahash_b
  FROM bands a JOIN bands bb
    ON a.b = bb.b AND a.v = bb.v AND a.url < bb.url
)
SELECT url_a, url_b, hamming FROM (
  SELECT url_a, url_b, CAST({ham} AS INT) AS hamming FROM cand
) WHERE hamming <= {max_hamming}"""


def _doc_shingles(source_sql, n):
    return f"""(
  SELECT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_distinct(list_transform(
        range(0, greatest(len(words) - {n}, 0) + 1),
        i -> array_to_string(
               words[CAST(i + 1 AS INT):CAST(i + {n} AS INT)], ' ')
      ))) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS words
          FROM {source_sql})
  ) WHERE length(shingle) > 0
)"""


def decontaminate(benchmark_mod=50, min_hits=2):
    from .dedup import DECONTAM_NGRAM as n

    return f"""WITH tr AS {_doc_shingles('documents', n)},
bm AS (
  SELECT DISTINCT shingle
  FROM {_doc_shingles(f'(SELECT * FROM documents WHERE doc_id % {benchmark_mod} = 0)', n)} s
),
hits AS (
  SELECT doc_id, COUNT(*) AS n FROM tr JOIN bm USING (shingle)
  GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(h.n, 0) AS INT) AS n_overlap_ngrams,
  COALESCE(h.n, 0) >= {min_hits} AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)"""


def pack_sequences(budget=512, shards=8):
    digit = "(strpos('0123456789abcdef', substr(h6, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (5 - i)}" for i in range(6)
    )
    return f"""WITH t AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS h6,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens, bucket,
    CAST(({val}) % {shards} AS INT) AS shard
  FROM t
),
c AS (
  SELECT doc_id, shard, n_tokens, bucket,
    SUM(n_tokens) OVER (
      PARTITION BY shard ORDER BY bucket, doc_id
      ROWS UNBOUNDED PRECEDING
    ) AS cum
  FROM s
)
SELECT doc_id, shard,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST((cum - n_tokens) // {budget} AS INT) AS seq_id,
  CAST((cum - n_tokens) % {budget} AS INT) AS seq_offset
FROM c"""


def chunk_documents():
    from .textstats import CHUNK_SIZE, CHUNK_STRIDE

    return f"""WITH docw AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
e AS (
  SELECT doc_id, words,
    unnest(range(0, greatest(len(words) - 1, 0) + 1, {CHUNK_STRIDE}))
      AS start
  FROM docw
)
SELECT doc_id,
  CAST(start // {CHUNK_STRIDE} AS INT) AS chunk_idx,
  array_to_string(
    words[CAST(start + 1 AS INT):CAST(start + {CHUNK_SIZE} AS INT)],
    ' ') AS chunk_text,
  CAST(len(
    words[CAST(start + 1 AS INT):CAST(start + {CHUNK_SIZE} AS INT)]
  ) AS INT) AS n_chunk_words
FROM e"""


def redact_pii():
    from .textstats import EMAIL_PATTERN, LONGNUM_PATTERN

    return f"""SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
    '{LONGNUM_PATTERN}', '<NUM>', 'g') AS redacted_text,
  CAST(len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(
    regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
    '{LONGNUM_PATTERN}')) AS INT) AS n_longnums
FROM documents"""


def stratified_sample(rates):
    from .sampling import rate_threshold

    case = "CASE " + " ".join(
        f"WHEN lang = '{s}' THEN '{rate_threshold(r)}'"
        for s, r in sorted(rates.items())
    ) + " ELSE NULL END"
    return f"""WITH t AS (
  SELECT doc_id, lang AS stratum,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS bucket,
    {case} AS thr
  FROM documents
)
SELECT doc_id, stratum, bucket FROM t
WHERE thr IS NOT NULL AND bucket < thr"""


def source_mix_quota(quotas):
    case = "CASE " + " ".join(
        f"WHEN lang = '{s}' THEN {int(q)}"
        for s, q in sorted(quotas.items())
    ) + " ELSE NULL END"
    return f"""WITH t AS (
  SELECT doc_id, lang,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY lang
      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
    ) AS INT) AS mix_rank,
    {case} AS quota
  FROM documents
)
SELECT doc_id, lang AS stratum, mix_rank FROM t
WHERE quota IS NOT NULL AND mix_rank <= quota"""


def media_frames():
    """Frame-sampling oracle: rebuild the deterministic payload, slice
    it with BLOB substring arithmetic, keep every 3rd frame."""
    from ..operators.multimodal import FRAME_EVERY, FRAME_SIZE
    from ..pipeline.pages import duckdb_statements_sql

    stmts = duckdb_statements_sql("k")
    return f"""WITH docs AS (
  SELECT doc_id AS k, text AS base_text FROM documents
),
pages AS (
  SELECT
    'https://crawl.example.org/p/' || lpad(CAST(k AS VARCHAR), 12, '0')
      AS url,
    encode('<html><body><p>' || base_text || ' ' || {stmts}
      || '</p></body></html>') AS payload
  FROM docs
),
frames AS (
  SELECT url, lower(hex(payload)) AS phex,
    CAST(unnest(range(0,
      CAST(ceil(octet_length(payload) / {FRAME_SIZE}.0) AS BIGINT),
      {FRAME_EVERY})) AS INT) AS frame_idx
  FROM pages
)
SELECT url, frame_idx,
  frame_idx * {FRAME_SIZE} AS frame_offset,
  CAST(length(substring(
    phex, frame_idx * {FRAME_SIZE} * 2 + 1, {FRAME_SIZE} * 2)) // 2
    AS INT) AS frame_len,
  sha256(substring(
    phex, frame_idx * {FRAME_SIZE} * 2 + 1, {FRAME_SIZE} * 2))
    AS frame_sha256,
  'stubbed' AS decode_status
FROM frames"""


# --- similarity -----------------------------------------------------------------
_EMB_CTE = f"""
e AS (
  SELECT vec_id, v, label FROM (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
    FROM embeddings
  ) WHERE list_dot_product(v, v) > 0
),
q AS (
  SELECT vec_id AS query_id, v AS qv, label AS qlabel
  FROM e WHERE vec_id < {N_QUERIES}
)
"""

_COS = (
    "list_dot_product(e.v, q.qv) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv)))"
)


def _ranked(where, k=TOP_K):
    return f"""WITH {_EMB_CTE},
scored AS (
  SELECT q.query_id, e.vec_id, {_COS} AS cosine
  FROM e, q
  WHERE e.vec_id <> q.query_id AND {where}
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {k}"""


def brute_force_topk():
    return _ranked("TRUE")


def ivf_topk():
    """IVF-flat mirror: stride-sampled centroids, squared-L2 argmin
    assignment (d2 via three dot products, identical arithmetic to the
    Spark side), nprobe nearest cells per query, exact cosine rerank
    inside the probed cells."""
    from .similarity import CENTROID_MOD, CENTROID_STRIDE, NPROBE

    d2 = (
        "list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})"
    )
    return f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM ed
  WHERE vec_id % {CENTROID_STRIDE} = {CENTROID_MOD}
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT ed.vec_id, ed.v, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY ed.vec_id
        ORDER BY {d2.format(a='ed.v', b='c.cv')}, c.cell_id
      ) AS rn
    FROM ed, cents c
  ) WHERE rn = 1
),
qd AS (SELECT query_id, qv FROM q WHERE len(qv) = {EMB_DIM}),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT qd.query_id, qd.qv, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY qd.query_id
        ORDER BY {d2.format(a='qd.qv', b='c.cv')}, c.cell_id
      ) AS cell_rank
    FROM qd, cents c
  ) WHERE cell_rank <= {NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id,
    list_dot_product(a.v, p.qv) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(p.qv, p.qv))) AS cosine
  FROM assigned a JOIN probes p ON a.cell_id = p.cell_id
  WHERE a.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}"""


_D2 = (
    "list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
    " + list_dot_product({b}, {b})"
)


def _ivf_init_assign_ctes(n_cells=None, target_occupancy=None,
                          min_k=None):
    """Shared CTE block (ed / p / cents / assigned) mirroring
    ``similarity.init_centroids`` + ``assign_cells``: the init
    selection -- global top-k rows by (stride_match DESC, vec_id ASC)
    with stride = count // k (the under-fill backfill falls out of
    the same ordering), cell_id = rank - 1 -- then squared-L2 argmin
    assignment.  Used by the trained-IVF and semantic-dedup oracles.

    k is either the FIXED ``n_cells`` literal, or (scaled form,
    mirroring ``similarity.scaled_n_cells``) derived in SQL as
    greatest(min_k, COUNT(*) // target_occupancy) -- DuckDB ``//``
    == Python ``//`` on non-negative ints, so both engines compute
    the identical k for any corpus size."""
    from .similarity import CENTROID_MOD, IVF_K

    if target_occupancy is not None:
        if min_k is None:
            min_k = IVF_K
        kk = (
            f"kk AS (\n  SELECT greatest({min_k}, "
            f"COUNT(*) // {int(target_occupancy)}) AS k FROM ed\n),\n"
        )
        k_ref = "(SELECT k FROM kk)"
    else:
        kk = ""
        k_ref = str(int(n_cells))

    return f"""ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
{kk}p AS (
  SELECT greatest(1, COUNT(*) // {k_ref}) AS stride FROM ed
),
cents AS (
  SELECT CAST(rn - 1 AS INT) AS cell_id, cv FROM (
    SELECT ed.v AS cv,
      ROW_NUMBER() OVER (
        ORDER BY (ed.vec_id % p.stride = {CENTROID_MOD} % p.stride)
          DESC, ed.vec_id ASC
      ) AS rn
    FROM ed, p
  ) WHERE rn <= {k_ref}
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT ed.vec_id, ed.v, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY ed.vec_id
        ORDER BY {_D2.format(a='ed.v', b='c.cv')}, c.cell_id
      ) AS rn
    FROM ed, cents c
  ) WHERE rn = 1
)"""


def ivf_trained_topk(n_cells=16):
    """Fixed-K IVF mirror (similarity.ivf_trained_topk): the shared
    init+assignment CTEs, then identical nprobe probing and cosine
    rerank as the stride-diagnostic oracle."""
    from .similarity import NPROBE

    d2 = _D2
    return f"""WITH {_EMB_CTE},
{_ivf_init_assign_ctes(n_cells)},
qd AS (SELECT query_id, qv FROM q WHERE len(qv) = {EMB_DIM}),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT qd.query_id, qd.qv, c.cell_id,
      ROW_NUMBER() OVER (
        PARTITION BY qd.query_id
        ORDER BY {d2.format(a='qd.qv', b='c.cv')}, c.cell_id
      ) AS cell_rank
    FROM qd, cents c
  ) WHERE cell_rank <= {NPROBE}
),
scored AS (
  SELECT p2.query_id, a.vec_id,
    list_dot_product(a.v, p2.qv) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(p2.qv, p2.qv))) AS cosine
  FROM assigned a JOIN probes p2 ON a.cell_id = p2.cell_id
  WHERE a.vec_id <> p2.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}"""


def semantic_dedup(threshold=0.2, n_cells=None,
                   target_occupancy=None):
    """Mirrors similarity.semantic_dedup (SemDeDup shape): within-cell
    pairs with cosine >= threshold; a vector is dropped in favor of
    the smallest cell-mate it duplicates.  Default = the SCALED
    configuration (k derived from COUNT(*) at constant target
    occupancy, exactly as the Spark side does); pass ``n_cells`` for
    the fixed-k diagnostic form."""
    from .similarity import SEMDEDUP_TARGET_OCCUPANCY

    if n_cells is None and target_occupancy is None:
        target_occupancy = SEMDEDUP_TARGET_OCCUPANCY
    thr = repr(float(threshold))
    return f"""WITH {_EMB_CTE},
{_ivf_init_assign_ctes(n_cells, target_occupancy=target_occupancy)},
pairs AS (
  SELECT a.cell_id, a.vec_id AS ka, b.vec_id AS kb
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) /
        (sqrt(list_dot_product(a.v, a.v)) *
         sqrt(list_dot_product(b.v, b.v)))
        >= CAST({thr} AS DOUBLE)
),
dupof AS (
  SELECT kb AS vec_id, MIN(ka) AS dup_of FROM pairs GROUP BY kb
)
SELECT a.vec_id, a.cell_id,
  d.dup_of,
  (d.dup_of IS NULL) AS is_kept
FROM assigned a LEFT JOIN dupof d ON a.vec_id = d.vec_id"""


def _bucket_sql(v, planes):
    """Hyperplane sign-pattern bucket as SQL -- the ONE definition all
    hyperplane-LSH oracles share (single-table and banded)."""
    bits = []
    for row in planes:
        lit = "[" + ", ".join(str(x) for x in row) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product({v}, "
            f"CAST({lit} AS DOUBLE[])) >= 0 "
            f"THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


def _banded_buckets_sql(n_tables, bits):
    """UNION ALL of per-table bucket selects over ``ed`` (seed =
    HYPERPLANE_SEED + table), shared by both banded oracles."""
    from .similarity import HYPERPLANE_SEED

    selects = []
    for t in range(n_tables):
        planes = _hyperplanes(seed=HYPERPLANE_SEED + t, n=bits)
        selects.append(
            f"SELECT vec_id, {t} AS tbl, "
            f"{_bucket_sql('v', planes)} AS bucket FROM ed"
        )
    return " UNION ALL ".join(selects)


def embedding_near_dup_pairs(threshold=0.2):
    planes = _hyperplanes()

    def bucket(v):
        return _bucket_sql(v, planes)

    return f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
eb AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM ed),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM eb a JOIN eb b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {threshold}"""


def embedding_near_dup_pairs_banded(threshold=0.2, n_tables=3, bits=6):
    """Banded multi-table hyperplane LSH near-dups: candidates =
    pairs colliding in ANY of ``n_tables`` ``bits``-wide tables
    (seed = HYPERPLANE_SEED + t per table), verified by exact cosine.
    Mirrors similarity.embedding_near_dup_pairs(n_tables=, bits=)."""
    buckets_sql = _banded_buckets_sql(n_tables, bits)
    return f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
bk AS ({buckets_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
    list_dot_product(ea.v, eb.v) /
      (sqrt(list_dot_product(ea.v, ea.v)) *
       sqrt(list_dot_product(eb.v, eb.v))) AS cosine
  FROM cand c
  JOIN ed ea ON ea.vec_id = c.vec_a
  JOIN ed eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {threshold}"""


def lsh_ann_topk_banded(n_tables=3, bits=6):
    """Banded multi-table hyperplane ANN: query-corpus candidates =
    collision in ANY table (dedup before rerank), exact cosine rerank.
    Mirrors similarity.lsh_ann_topk(n_tables=, bits=)."""
    buckets_sql = _banded_buckets_sql(n_tables, bits)
    return f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
bk AS ({buckets_sql}),
qb AS (
  SELECT vec_id AS query_id, tbl, bucket FROM bk
  WHERE vec_id < {N_QUERIES}
),
cand AS (
  SELECT DISTINCT qb.query_id, bk.vec_id
  FROM bk JOIN qb ON bk.tbl = qb.tbl AND bk.bucket = qb.bucket
  WHERE bk.vec_id <> qb.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
    list_dot_product(ev.v, eq.v) /
      (sqrt(list_dot_product(ev.v, ev.v)) *
       sqrt(list_dot_product(eq.v, eq.v))) AS cosine
  FROM cand c
  JOIN ed ev ON ev.vec_id = c.vec_id
  JOIN ed eq ON eq.vec_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}"""


def lsh_ann_topk():
    planes = _hyperplanes()

    def bucket(v):
        return _bucket_sql(v, planes)

    return f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
eb AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM ed),
qb AS (
  SELECT query_id, qv, {bucket('qv')} AS qbucket
  FROM q WHERE len(qv) = {EMB_DIM}
),
scored AS (
  SELECT qb.query_id, eb.vec_id,
    list_dot_product(eb.v, qb.qv) /
      (sqrt(list_dot_product(eb.v, eb.v)) *
       sqrt(list_dot_product(qb.qv, qb.qv))) AS cosine
  FROM eb JOIN qb ON eb.bucket = qb.qbucket
  WHERE eb.vec_id <> qb.query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {TOP_K}"""


SEGMENT_WORDS = 12

_SEGS_TEMPLATE = """
toks AS (
  SELECT {id_cols}, string_split_regex(trim(text), '{ws}') AS t
  FROM {src}
),
segs AS (
  SELECT {id_cols}, CAST(i AS INT) AS seg_idx,
    array_to_string(
      t[CAST(i AS BIGINT) * {w} + 1 : CAST(i AS BIGINT) * {w} + {w}],
      ' ') AS seg_text,
    md5(array_to_string(
      t[CAST(i AS BIGINT) * {w} + 1 : CAST(i AS BIGINT) * {w} + {w}],
      ' ')) AS seg_hash
  FROM toks, UNNEST(range(CAST(floor(len(t) / {w}) AS BIGINT))) AS u(i)
  WHERE len(t) >= {w}
)"""


def _segs_cte(src, id_cols, w=SEGMENT_WORDS):
    # EXPLICIT whitespace class, byte-identical to the Spark tokenizer
    # (dedup._seg_tokens): engine-native backslash-s differs between
    # Java (includes chr(11)) and RE2 (does not), so the shared class
    # is interpolated as raw characters -- built with chr() arithmetic
    # (CLAUDE.md unicode constraint)
    ws = "[" + WS_CHARS + "]+"
    return _SEGS_TEMPLATE.format(src=src, id_cols=id_cols, w=w, ws=ws)


def paragraph_dedup(w=SEGMENT_WORDS):
    """Mirrors dedup.paragraph_dedup over the near-dup corpus."""
    return f"""WITH {CORPUS_CTE.strip().rstrip()},{_segs_cte('corpus', 'doc_id', w)}
SELECT seg_hash,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  COUNT(*) AS n_occurrences,
  MIN(doc_id) AS keeper_doc_id
FROM segs
GROUP BY seg_hash
HAVING COUNT(DISTINCT doc_id) > 1"""


BOILER_CORPUS_CTE = """
bcorpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, source, text
  FROM documents WHERE doc_id % 10 = 0
)
"""


def _boiler_ctes(w, min_docs, min_frac):
    """bcorpus + segs + totals/counts + removal: the ONE removal-list
    SQL both boilerplate oracles build on.  min_frac is interpolated
    via Python repr for bit-identical DOUBLE comparison (CLAUDE.md
    recipe)."""
    frac = repr(float(min_frac))
    return f"""{BOILER_CORPUS_CTE.strip()},{_segs_cte('bcorpus', 'doc_id, source', w)},
totals AS (
  SELECT source, COUNT(DISTINCT doc_id) AS total_docs FROM bcorpus
  GROUP BY source
),
counts AS (
  SELECT source, seg_hash, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
    SELECT DISTINCT source, seg_hash, doc_id FROM segs
  ) GROUP BY source, seg_hash
),
flagged AS (
  SELECT c.source, c.seg_hash, c.n_docs,
    round(CAST(c.n_docs AS DOUBLE) / t.total_docs, 6) AS doc_frac
  FROM counts c JOIN totals t ON c.source = t.source
  WHERE c.n_docs >= {min_docs}
    AND round(CAST(c.n_docs AS DOUBLE) / t.total_docs, 6)
        >= CAST({frac} AS DOUBLE)
)"""


def boilerplate_segments(w=SEGMENT_WORDS, min_docs=2, min_frac=0.05):
    """Mirrors dedup.boilerplate_segments over documents + every-10th
    exact repost (same source)."""
    return f"""WITH {_boiler_ctes(w, min_docs, min_frac)}
SELECT source, seg_hash, n_docs, doc_frac FROM flagged"""


def remove_boilerplate(w=SEGMENT_WORDS, min_docs=2, min_frac=0.05):
    """Mirrors dedup.remove_boilerplate over the boilerplate corpus:
    removal list = the SHARED ``flagged`` CTE (same SQL
    boilerplate_segments selects from), text rebuilt from kept
    segments (ORDER BY seg_idx) plus the ragged tail."""
    return f"""WITH {_boiler_ctes(w, min_docs, min_frac)},
removal AS (
  SELECT source, seg_hash FROM flagged
),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg_text
  FROM segs s LEFT JOIN removal r
    ON s.source = r.source AND s.seg_hash = r.seg_hash
  WHERE r.seg_hash IS NULL
),
kept_agg AS (
  SELECT doc_id,
    string_agg(seg_text, ' ' ORDER BY seg_idx) AS kept_text,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tails AS (
  SELECT doc_id, source,
    CAST(floor(len(t) / {w}) AS INT) AS n,
    array_to_string(
      t[CAST(floor(len(t) / {w}) AS BIGINT) * {w} + 1 : len(t)],
      ' ') AS tail
  FROM toks
)
SELECT tl.doc_id, tl.source,
  trim(concat_ws(' ', coalesce(k.kept_text, ''), tl.tail))
    AS cleaned_text,
  CAST(tl.n - coalesce(k.n_kept, 0) AS INT) AS n_removed
FROM tails tl LEFT JOIN kept_agg k ON tl.doc_id = k.doc_id"""


def _span_ctes(n, src="corpus"):
    """Shared CTE chain for the exact-substring span family: tokenize
    (explicit whitespace class), rolling n-gram md5 at every offset,
    cross-document grams, gaps-and-islands merge into ``spans``.
    ``src='corpus'`` prepends the near-dup corpus CTE (the contract
    queries); any other table name (e.g. ``documents``) scans it
    directly (the quality-gate composition).  LAG's NULL first row
    falls to ELSE 0 on both engines; the window SUM island id is
    group-key-only (HUGEINT on the DuckDB side never reaches an
    output schema)."""
    ws = "[" + WS_CHARS + "]+"
    prefix = CORPUS_CTE.strip() + ",\n" if src == "corpus" else ""
    return f"""{prefix}toks AS MATERIALIZED (
  SELECT doc_id, string_split_regex(trim(text), '{ws}') AS t
  FROM {src}
),
grams AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
    md5(array_to_string(
      t[CAST(i + 1 AS BIGINT):CAST(i + {n} AS BIGINT)], ' ')) AS gram_hash
  FROM toks, UNNEST(range(len(t) - {n} + 1)) AS u(i)
  WHERE len(t) >= {n}
),
cross_doc AS (
  SELECT gram_hash FROM grams
  GROUP BY gram_hash HAVING COUNT(DISTINCT doc_id) > 1
),
hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN cross_doc USING (gram_hash)
),
flagged AS (
  SELECT doc_id, pos,
    CASE WHEN pos - LAG(pos) OVER (
        PARTITION BY doc_id ORDER BY pos) > {n}
      THEN 1 ELSE 0 END AS brk
  FROM hits
),
islands AS (
  SELECT doc_id, pos,
    SUM(brk) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
spans AS MATERIALIZED (
  SELECT doc_id,
    CAST(MIN(pos) AS INT) AS span_start,
    CAST(MAX(pos) + {n} AS INT) AS span_end,
    CAST(MAX(pos) + {n} - MIN(pos) AS INT) AS span_words,
    COUNT(*) AS n_grams
  FROM islands
  GROUP BY doc_id, island
)"""


def duplicate_spans(n=None):
    """Mirrors dedup.duplicate_spans over the near-dup corpus."""
    from .dedup import SPAN_NGRAM

    if n is None:
        n = SPAN_NGRAM
    return f"""WITH {_span_ctes(n)}
SELECT doc_id, span_start, span_end, span_words, n_grams FROM spans"""


def duplicate_span_stats(n=None):
    """Mirrors dedup.duplicate_span_stats: per-doc dup-word coverage
    over the span table, LEFT-joined so span-free docs report zeros;
    n_words from the same tokenizer (split of '' is [''] -> size >= 1,
    no divide-by-zero on either engine)."""
    from .dedup import SPAN_NGRAM

    if n is None:
        n = SPAN_NGRAM
    return f"""WITH {_span_ctes(n)},
per_doc AS (
  SELECT doc_id,
    SUM(span_words) AS dup_words,
    COUNT(*) AS n_spans,
    MAX(span_words) AS max_span_words
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
  CAST(len(t.t) AS INT) AS n_words,
  CAST(COALESCE(p.n_spans, 0) AS INT) AS n_spans,
  CAST(COALESCE(p.dup_words, 0) AS INT) AS dup_words,
  CAST(COALESCE(p.max_span_words, 0) AS INT) AS max_span_words,
  round(CAST(COALESCE(p.dup_words, 0) AS DOUBLE)
        / CAST(len(t.t) AS DOUBLE), 6) AS dup_word_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)"""


def remove_duplicate_spans(n=None):
    """Mirrors dedup.remove_duplicate_spans: every token position
    covered by a span dropped, document rebuilt in position order
    (string_agg ORDER BY == Spark array_sort-of-struct order),
    whitespace-normalized."""
    from .dedup import SPAN_NGRAM

    if n is None:
        n = SPAN_NGRAM
    return f"""WITH {_span_ctes(n)},
tokpos AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[CAST(i AS BIGINT)] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id
      AND tp.pos >= s.span_start AND tp.pos < s.span_end
  )
),
kept_agg AS (
  SELECT doc_id,
    string_agg(tok, ' ' ORDER BY pos) AS kept_text,
    COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
  COALESCE(k.kept_text, '') AS cleaned_text,
  CAST(len(t.t) - COALESCE(k.n_kept, 0) AS INT) AS n_removed_words
FROM toks t LEFT JOIN kept_agg k USING (doc_id)"""


_URL_CORPUS_CTE = """
ub AS (
  SELECT doc_id,
    CAST(floor(doc_id / 7) AS BIGINT) AS block,
    CAST(CAST(floor(doc_id / 7) AS BIGINT) % 3 AS VARCHAR) AS pg
  FROM documents
),
urls AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'HTTPS://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || 'site' || CAST(block % 20 AS VARCHAR)
    || (CASE WHEN doc_id % 4 = 0 THEN '.Example.COM'
             ELSE '.example.com' END)
    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
    || '/articles/' || CAST(block AS VARCHAR)
    || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0
             THEN '?utm_source=feed&ref=rss&page=' || pg
             WHEN doc_id % 4 = 1 THEN '?page=' || pg || '&sort=new'
             WHEN doc_id % 4 = 2 THEN '?sort=new&page=' || pg
             ELSE '?page=' || pg END)
    || (CASE WHEN doc_id % 6 = 0
             THEN '#section-' || CAST(doc_id AS VARCHAR) ELSE '' END)
    AS url
  FROM ub
)"""

# Canonicalization twin of urls._canonical_expr.  Anchored regexes
# only: Spark regexp_replace replaces every match, DuckDB the first;
# anchoring makes them identical.  The param-filter predicate text
# matches the Spark SQL lambda body.
_URL_CANON_CTE = r"""
c1 AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(url, '#.*$', ''),
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
  FROM urls
),
c2 AS (
  SELECT doc_id, url, rest,
    regexp_extract(rest, '^[^/?]*') AS auth,
    substr(rest, length(regexp_extract(rest, '^[^/?]*')) + 1) AS pathq
  FROM c1
),
c3 AS (
  SELECT doc_id, url, pathq,
    regexp_replace(regexp_replace(regexp_replace(
      lower(auth), '^[^@]*@', ''), ':[0-9]*$', ''), '^www\.', '')
      AS host,
    regexp_extract(pathq, '^[^?]*') AS path
  FROM c2
),
c4 AS (
  SELECT doc_id, url, host,
    CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path, '/+$', '') END AS path_c,
    CASE WHEN length(pathq) > length(path)
         THEN substr(pathq, length(path) + 2) ELSE '' END AS q
  FROM c3
),
c5 AS (
  SELECT doc_id, url, path_c,
    list_sort(list_filter(string_split(q, '&'),
      p -> p <> '' AND NOT (p LIKE 'utm_%'
        OR split_part(p, '=', 1) IN
           ('fbclid', 'gclid', 'msclkid', 'ref')))) AS kept,
    array_to_string(list_reverse(string_split(host, '.')), ',')
      AS surt
  FROM c4
),
canon AS (
  SELECT doc_id, url,
    surt || ')' || path_c
    || (CASE WHEN len(kept) > 0
             THEN '?' || array_to_string(kept, '&') ELSE '' END)
      AS canonical_url
  FROM c5
)"""


def url_canonicalize():
    """Mirrors urls.canonical_urls over the synthetic crawl corpus."""
    return f"""WITH {_URL_CORPUS_CTE.strip()},{_URL_CANON_CTE}
SELECT doc_id, url, canonical_url FROM canon"""


def url_dedup():
    """Mirrors urls.url_dedup: canonical-key groups fetched > once."""
    return f"""WITH {_URL_CORPUS_CTE.strip()},{_URL_CANON_CTE}
SELECT canonical_url, COUNT(*) AS n_fetches,
       MIN(url) AS keeper_url
FROM canon GROUP BY canonical_url HAVING COUNT(*) > 1"""


def dsir_weights(n_buckets=64, hexd=4, target="lang = 'en'"):
    """Mirrors sampling.dsir_weights: identical tokenizer
    (regexp_extract_all over the shared TOKEN_PATTERN, lowercased),
    identical md5-hex bucket arithmetic (strpos digit sum == Spark
    conv, CLAUDE.md recipe), identical add-one-smoothed ratio with
    every operand cast to DOUBLE in the same order, and the
    entity_pagerank integerization: floor(1e6 * ln(ratio)) as BIGINT
    per bucket BEFORE the per-document sum, so the doc scores are
    integer-exact.  DuckDB HUGEINT sums cast back to BIGINT; the
    smoothing constant interpolated via Python repr so it is DOUBLE,
    not DECIMAL."""
    digit = "(strpos('0123456789abcdef', substr(h4, {i}, 1)) - 1)"
    val = " + ".join(
        f"{digit.format(i=i + 1)} * {16 ** (hexd - 1 - i)}"
        for i in range(hexd)
    )
    b = float(n_buckets)
    return f"""WITH tb AS MATERIALIZED (
  SELECT doc_id, ({target}) AS is_target,
    substr(md5(tok), 1, {hexd}) AS h4
  FROM (
    SELECT doc_id, lang,
      unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS tok
    FROM documents
  )
),
db AS MATERIALIZED (
  SELECT doc_id, is_target, CAST(({val}) % {n_buckets} AS INT) AS bucket,
    COUNT(*) AS cnt
  FROM tb GROUP BY doc_id, is_target, CAST(({val}) % {n_buckets} AS INT)
),
raw AS (SELECT bucket, SUM(cnt) AS r_cnt FROM db GROUP BY bucket),
tgt AS (SELECT bucket, SUM(cnt) AS t_cnt FROM db
        WHERE is_target GROUP BY bucket),
tot AS (
  SELECT SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS tt,
         SUM(cnt) AS rr
  FROM db
),
lut AS (
  SELECT raw.bucket,
    CAST(floor(ln(
      (CAST(COALESCE(tgt.t_cnt, 0) + 1 AS DOUBLE)
         / (CAST(tot.tt AS DOUBLE) + CAST({b!r} AS DOUBLE)))
      / (CAST(raw.r_cnt + 1 AS DOUBLE)
         / (CAST(tot.rr AS DOUBLE) + CAST({b!r} AS DOUBLE)))
    ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lr_micro
  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, tot
)
SELECT db.doc_id,
  CAST(SUM(db.cnt * lut.lr_micro) AS BIGINT) AS logw_micro,
  CAST(SUM(db.cnt) AS BIGINT) AS n_tokens,
  SUM(db.cnt * lut.lr_micro) > 0 AS keep
FROM db JOIN lut ON db.bucket = lut.bucket
GROUP BY db.doc_id"""


def quality_gate(min_words=25, max_words=100000, min_quality=0.5,
                 max_dup_frac=0.3):
    """Mirrors gate.quality_gate: the composed filter ladder.  Each
    signal is the EXISTING oracle query embedded as a nested-WITH
    subquery (DuckDB supports CTEs inside subqueries), so the gate
    oracle inherits every parity recipe those queries already carry;
    thresholds compare on the rounded columns with repr-interpolated
    DOUBLE literals; the CASE order is gate.GATE_RULES."""
    from .dedup import SPAN_NGRAM

    span_stats_docs = f"""WITH {_span_ctes(SPAN_NGRAM, src='documents')},
per_doc AS (
  SELECT doc_id, SUM(span_words) AS dup_words
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
  round(CAST(COALESCE(p.dup_words, 0) AS DOUBLE)
        / CAST(len(t.t) AS DOUBLE), 6) AS dup_word_frac
FROM toks t LEFT JOIN per_doc p USING (doc_id)"""
    return f"""WITH
q AS (SELECT doc_id, n_words, quality FROM ({quality_score()}) t),
l AS (SELECT doc_id, lang_pred FROM ({lang_id()}) t),
r AS (SELECT doc_id, is_repetitive FROM ({repetition_stats()}) t),
d AS (SELECT doc_id, dup_word_frac FROM ({span_stats_docs}) t),
base AS (
  SELECT doc.doc_id, doc.lang, q.n_words, q.quality, l.lang_pred,
         r.is_repetitive, d.dup_word_frac
  FROM documents doc
  JOIN q USING (doc_id) JOIN l USING (doc_id)
  JOIN r USING (doc_id) JOIN d USING (doc_id)
),
scored AS (
  SELECT *,
    CASE
      WHEN n_words < {min_words} OR n_words > {max_words}
        THEN 'length'
      WHEN lang_pred <> lang THEN 'language'
      WHEN quality < CAST({float(min_quality)!r} AS DOUBLE)
        THEN 'quality'
      WHEN is_repetitive THEN 'repetition'
      WHEN dup_word_frac > CAST({float(max_dup_frac)!r} AS DOUBLE)
        THEN 'duplication'
      ELSE NULL
    END AS reject_reason
  FROM base
)
SELECT doc_id, n_words, lang, lang_pred, quality, is_repetitive,
  dup_word_frac,
  reject_reason IS NULL AS keep,
  reject_reason
FROM scored"""


def gate_histogram(**kw):
    """Mirrors gate.gate_histogram over the gate output."""
    return f"""WITH g AS ({quality_gate(**kw)})
SELECT COALESCE(reject_reason, 'kept') AS outcome,
       COUNT(*) AS n_docs
FROM g GROUP BY COALESCE(reject_reason, 'kept')"""


_VOCAB_CTES = """toks AS MATERIALIZED (
  SELECT doc_id,
    unnest(regexp_extract_all(lower(text), '{pat}')) AS token
  FROM documents
),
counts AS (
  SELECT token, COUNT(*) AS count,
         COUNT(DISTINCT doc_id) AS doc_freq
  FROM toks GROUP BY token
),
top AS (
  SELECT token, count, doc_freq FROM counts
  ORDER BY count DESC, token ASC LIMIT {k}
)"""


def build_vocab(k=256):
    """Mirrors textstats.build_vocab: shared tokenizer, (count desc,
    token asc) total order for both the top-k cut and the id
    assignment -- ties at the boundary resolve identically on both
    engines."""
    ctes = _VOCAB_CTES.format(pat=TOKEN_PATTERN, k=k)
    return f"""WITH {ctes}
SELECT token,
  CAST(ROW_NUMBER() OVER (ORDER BY count DESC, token ASC) - 1 AS INT)
    AS token_id,
  CAST(count AS BIGINT) AS count,
  CAST(doc_freq AS BIGINT) AS doc_freq
FROM top"""


def oov_stats(k=256):
    """Mirrors textstats.oov_stats against the build_vocab table."""
    ctes = _VOCAB_CTES.format(pat=TOKEN_PATTERN, k=k)
    return f"""WITH {ctes},
hit AS (
  SELECT t.doc_id,
    CASE WHEN v.token IS NULL THEN 0 ELSE 1 END AS in_vocab
  FROM toks t LEFT JOIN top v USING (token)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(in_vocab) AS n_in_vocab
  FROM hit GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(a.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
  CASE WHEN COALESCE(a.n_tokens, 0) > 0
       THEN round(CAST(a.n_tokens - a.n_in_vocab AS DOUBLE)
                  / a.n_tokens, 6)
       ELSE CAST(0 AS DOUBLE) END AS oov_rate
FROM documents d LEFT JOIN agg a USING (doc_id)"""


def unigram_ppl(ref_predicate=None):
    """Mirrors sampling.unigram_ppl: same tokenizer, add-one-smoothed
    unigram distribution over the reference subset, per-token
    floor(1e6*ln(p)) micro-nats BEFORE any sum, integer floor
    division for the mean and band (DuckDB ``//`` == Spark ``div``
    on non-negative operands).  HUGEINT sums cast back to BIGINT."""
    ref = ref_predicate if ref_predicate is not None else "TRUE"
    return f"""WITH dt AS MATERIALIZED (
  SELECT doc_id, is_ref, token, COUNT(*) AS cnt
  FROM (
    SELECT doc_id, ({ref}) AS is_ref,
      unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS token
    FROM documents
  ) GROUP BY doc_id, is_ref, token
),
rc AS (
  SELECT token, SUM(cnt) AS ref_cnt FROM dt WHERE is_ref
  GROUP BY token
),
tot AS (
  SELECT SUM(ref_cnt) AS tt, COUNT(*) AS vv FROM rc
),
lut AS (
  SELECT rc.token,
    CAST(floor(ln(CAST(rc.ref_cnt + 1 AS DOUBLE)
                  / CAST(tot.tt + tot.vv AS DOUBLE))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lp_micro
  FROM rc, tot
),
scored AS (
  SELECT dt.doc_id, dt.cnt,
    COALESCE(lut.lp_micro,
      (SELECT CAST(floor(ln(CAST(1.0 AS DOUBLE)
                            / CAST(tot.tt + tot.vv AS DOUBLE))
                         * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       FROM tot)) AS lp_micro
  FROM dt LEFT JOIN lut ON dt.token = lut.token
),
agg AS (
  SELECT doc_id,
    CAST(SUM(cnt * lp_micro) AS BIGINT) AS logprob_micro,
    CAST(SUM(cnt) AS BIGINT) AS n_tokens
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, logprob_micro,
  CAST((-logprob_micro) // n_tokens AS BIGINT) AS mean_nll_micro,
  CAST(((-logprob_micro) // n_tokens) // 1000000 AS BIGINT)
    AS ppl_band
FROM agg"""


def tfidf_keywords(k=5, min_df=1):
    """Mirrors textstats.tfidf_keywords: same tokenizer + alpha/
    stopword filter, smoothed idf integerized to micro-nats before
    the tf multiply, identical (score desc, token asc) tie order.
    COUNT(*) is BIGINT on both engines; rank cast to INT to match
    Spark's row_number."""
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_list = ", ".join("'%s'" % w for w in all_stop)
    return f"""WITH tf AS MATERIALIZED (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
      unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS token
    FROM documents
  )
  WHERE regexp_full_match(token, '[a-z]+')
    AND token NOT IN ({stop_list})
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
n AS (
  SELECT COUNT(*) AS nn FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
    tf.tf * CAST(floor(ln(CAST(n.nn + 1 AS DOUBLE)
                          / CAST(dfreq.df + 1 AS DOUBLE))
                       * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
      AS score_micro
  FROM tf JOIN dfreq USING (token), n
  WHERE dfreq.df >= {min_df}
),
ranked AS (
  SELECT doc_id, token, tf, df, score_micro,
    CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY score_micro DESC, token ASC
    ) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, token, tf, df, score_micro
FROM ranked WHERE rank <= {k}"""


def kmeans_quantized(k=16, n_iter=2, scale=1000000):
    """Mirrors similarity.kmeans_quantized: quantize-after-selection
    init, n_iter unrolled assign/update rounds as chained CTEs (the
    PageRank unrolling recipe -- DuckDB CTEs are single-reference
    unless MATERIALIZED), integer floored means via the pmod
    subtraction, HUGEINT inertia stringified to match Spark's
    decimal(38,0) string."""
    from .similarity import CENTROID_MOD

    qx = f"x -> CAST(floor(x * {scale}.0) AS BIGINT)"
    dims = range(EMB_DIM)

    def d2(a, b):
        da, db = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
        return (
            f"CAST(list_dot_product({da}, {da})"
            f" - 2 * list_dot_product({da}, {db})"
            f" + list_dot_product({db}, {db}) AS BIGINT)"
        )

    def assign_cte(name, cents):
        dd = d2("qe.qv", "c.qcv")
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, qv, cell_id, d2 FROM (
    SELECT qe.vec_id, qe.qv, c.cell_id, {dd} AS d2,
      ROW_NUMBER() OVER (
        PARTITION BY qe.vec_id ORDER BY {dd}, c.cell_id
      ) AS rn
    FROM qe, {cents} c
  ) WHERE rn = 1
)"""

    def update_ctes(i, prev_assign, prev_cents):
        sum_cols = ", ".join(
            f"SUM(qv[{j + 1}]) AS s{j}" for j in dims
        )
        mean_exprs = ", ".join(
            f"CAST((s{j} - ((s{j} % n) + n) % n) // n AS BIGINT)"
            for j in dims
        )
        return f"""means{i} AS (
  SELECT cell_id, list_value({mean_exprs}) AS qcv FROM (
    SELECT cell_id, COUNT(*) AS n, {sum_cols}
    FROM {prev_assign} GROUP BY cell_id
  )
),
cents{i} AS MATERIALIZED (
  SELECT c.cell_id, COALESCE(m.qcv, c.qcv) AS qcv
  FROM {prev_cents} c LEFT JOIN means{i} m USING (cell_id)
)"""

    parts = [f"""WITH {_EMB_CTE},
ed AS (SELECT * FROM e WHERE len(v) = {EMB_DIM}),
qe AS MATERIALIZED (
  SELECT vec_id, list_transform(v, {qx}) AS qv FROM ed
),
p AS (
  SELECT greatest(1, COUNT(*) // {k}) AS stride FROM ed
),
cents0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS INT) AS cell_id,
         list_transform(cv, {qx}) AS qcv
  FROM (
    SELECT ed.v AS cv,
      ROW_NUMBER() OVER (
        ORDER BY (ed.vec_id % p.stride = {CENTROID_MOD} % p.stride)
          DESC, ed.vec_id ASC
      ) AS rn
    FROM ed, p
  ) WHERE rn <= {k}
)"""]
    for i in range(n_iter):
        parts.append(assign_cte(f"assign{i}", f"cents{i}"))
        parts.append(update_ctes(i + 1, f"assign{i}", f"cents{i}"))
    parts.append(assign_cte("assignF", f"cents{n_iter}"))
    parts.append(f"""stats AS (
  SELECT cell_id, COUNT(*) AS n_members, SUM(d2) AS inertia
  FROM assignF GROUP BY cell_id
)
SELECT c.cell_id,
  CAST(COALESCE(s.n_members, 0) AS BIGINT) AS n_members,
  COALESCE(CAST(CAST(s.inertia AS HUGEINT) AS VARCHAR), '0')
    AS inertia_q,
  array_to_string(c.qcv, ',') AS centroid
FROM cents{n_iter} c LEFT JOIN stats s USING (cell_id)""")
    return ",\n".join(parts[:-1]) + ",\n" + parts[-1]


def nfc_profile():
    """Mirrors textstats.nfc_profile: utf8proc NFC vs Python
    unicodedata NFC (both Unicode canonical composition); md5 over
    the normalized UTF-8 bytes, length in code points."""
    return """SELECT doc_id,
  nfc_normalize(text) <> text AS changed,
  CAST(length(nfc_normalize(text)) AS INT) AS norm_len,
  md5(nfc_normalize(text)) AS norm_hash
FROM documents"""


def containment_pairs(threshold=0.8, max_doc_freq=8):
    """Mirrors dedup.containment_pairs: same shingle definition, rare
    (df <= max_doc_freq) candidate generation, full-set intersection
    counts, (size, doc_id) inner/outer direction, double division
    with a repr-literal threshold cast (CLAUDE.md decimal rule)."""
    thr = repr(float(threshold))
    return f"""WITH {CORPUS_CTE},
{SHINGLES_CTE},
rare AS (
  SELECT shingle FROM shingles
  GROUP BY shingle HAVING COUNT(*) <= {int(max_doc_freq)}
),
rare_sh AS (
  SELECT s.doc_id, s.shingle FROM shingles s
  JOIN rare USING (shingle)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare_sh a JOIN rare_sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b
    AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id
),
directed AS (
  SELECT
    CASE WHEN za.n_shingles < zb.n_shingles
          OR (za.n_shingles = zb.n_shingles AND doc_a < doc_b)
      THEN doc_a ELSE doc_b END AS doc_inner,
    CASE WHEN za.n_shingles < zb.n_shingles
          OR (za.n_shingles = zb.n_shingles AND doc_a < doc_b)
      THEN doc_b ELSE doc_a END AS doc_outer,
    n_common,
    least(za.n_shingles, zb.n_shingles) AS size_inner,
    greatest(za.n_shingles, zb.n_shingles) AS size_outer
  FROM common
  JOIN sizes za ON za.doc_id = common.doc_a
  JOIN sizes zb ON zb.doc_id = common.doc_b
)
SELECT doc_inner, doc_outer, n_common, size_inner, size_outer,
  round(CAST(n_common AS DOUBLE) / size_inner, 6) AS containment
FROM directed
WHERE CAST(n_common AS DOUBLE) / size_inner >= CAST({thr} AS DOUBLE)"""


def source_profile():
    """Mirrors textstats.source_profile: md5 text keys, shared
    tokenizer for counts, (count DESC, lang ASC) majority pick via
    row_number, round(x,6) doubles, integer floor divisions, HUGEINT
    sums cast back to BIGINT."""
    return f"""WITH tok AS (
  SELECT doc_id, source,
    len(regexp_extract_all(lower(text), '{TOKEN_PATTERN}')) AS n_toks,
    md5(text) AS text_key,
    length(text) AS n_chars
  FROM documents
),
base AS (
  SELECT source,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT text_key) AS BIGINT) AS n_unique,
    CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
    CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM tok GROUP BY source
),
lc AS (
  SELECT source, lang, COUNT(*) AS cnt
  FROM documents GROUP BY source, lang
),
major AS (
  SELECT source, lang, cnt, n_all FROM (
    SELECT source, lang, cnt,
      SUM(cnt) OVER (PARTITION BY source) AS n_all,
      ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY cnt DESC, lang ASC
      ) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT b.source, b.n_docs,
  round(CAST(1.0 AS DOUBLE)
        - CAST(b.n_unique AS DOUBLE) / b.n_docs, 6) AS dup_rate,
  b.total_tokens,
  CAST(b.total_tokens // b.n_docs AS BIGINT) AS mean_tokens,
  m.lang AS major_lang,
  round(CAST(m.cnt AS DOUBLE) / m.n_all, 6) AS lang_purity,
  CAST(b.total_chars // b.n_docs AS BIGINT) AS mean_chars
FROM base b JOIN major m USING (source)"""


def line_filter():
    """Mirrors textstats.line_filter: list_transform line tagging with
    the fixed rule ladder (short -> no_terminal -> brace ->
    javascript), struct-field lambdas, INT casts to match Spark
    ``size()``.  The trimmed line is trim -> rtrim(cr) -> trim and the
    terminal check is right(line, 1) IN set -- character-set trims and
    a last-char test, never a '$'-anchored regex (Java '$' matches
    before a final line terminator, RE2 '$' only at end-of-string:
    CRLF text would diverge)."""
    terms = ", ".join(
        "'" + c.replace("'", "''") + "'" for c in LINE_TERMINAL_CHARS
    )
    tl = "trim(rtrim(trim(l), chr(13)))"
    return f"""WITH tl AS (
  SELECT doc_id,
    contains(lower(text), 'lorem ipsum') AS lorem_ipsum,
    list_transform(string_split(text, chr(10)), l -> struct_pack(
      line := l,
      reason := CASE
        WHEN len(regexp_extract_all({tl}, '{LINE_WORD_REGEX}'))
             < {LINE_MIN_WORDS} THEN 'short'
        WHEN right({tl}, 1) NOT IN ({terms})
             THEN 'no_terminal'
        WHEN contains({tl}, '{{') OR contains({tl}, '}}')
             THEN 'brace'
        WHEN contains(lower({tl}), 'javascript') THEN 'javascript'
        ELSE NULL END)) AS tl
  FROM documents
)
SELECT doc_id,
  CAST(len(tl) AS INT) AS n_lines,
  CAST(len(list_filter(tl, t -> t.reason IS NULL)) AS INT) AS n_kept,
  CAST(len(list_filter(tl, t -> t.reason = 'short')) AS INT)
    AS n_short,
  CAST(len(list_filter(tl, t -> t.reason = 'no_terminal')) AS INT)
    AS n_no_terminal,
  CAST(len(list_filter(tl, t -> t.reason = 'brace')) AS INT)
    AS n_brace,
  CAST(len(list_filter(tl, t -> t.reason = 'javascript')) AS INT)
    AS n_javascript,
  lorem_ipsum,
  (NOT lorem_ipsum)
    AND len(list_filter(tl, t -> t.reason IS NULL))
        >= {DOC_MIN_KEPT_LINES} AS doc_kept,
  COALESCE(array_to_string(
    list_transform(list_filter(tl, t -> t.reason IS NULL),
                   t -> t.line), chr(10)), '') AS clean_text
FROM tl"""


def inverted_index(max_postings=16):
    """Mirrors textstats.inverted_index: shared tokenizer, rank-capped
    posting lists ordered by doc_id, HUGEINT sums cast to BIGINT, INT
    cast matching Spark ``size()``."""
    return f"""WITH tf AS MATERIALIZED (
  SELECT token, doc_id, COUNT(*) AS n FROM (
    SELECT doc_id,
      unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
        AS token
    FROM documents
  ) GROUP BY token, doc_id
),
stats AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
    CAST(SUM(n) AS BIGINT) AS total_count
  FROM tf GROUP BY token
),
capped AS (
  SELECT token,
    CAST(COUNT(*) AS INT) AS n_postings,
    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
      AS postings
  FROM (
    SELECT token, doc_id,
      ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
    FROM tf
  ) WHERE rn <= {max_postings} GROUP BY token
)
SELECT token, df, total_count, n_postings, postings
FROM stats JOIN capped USING (token)"""


def bpe_merges(n_merges=6):
    """Mirrors textstats.bpe_merges with the merge loop UNROLLED as
    chained CTEs (the PageRank recipe): per round, a zipped-unnest
    adjacent-pair count over the guard-wrapped symbol strings, a
    deterministic top-1 (count DESC, w1 ASC, w2 ASC), and a 1-row
    LEFT JOIN ON TRUE applying the plain-replace merge.  Base and
    round CTEs are MATERIALIZED (each is referenced twice; the fd
    gotcha).  replace() is left-to-right non-overlapping on both
    engines, which with the ``(sym)`` guards is exact BPE."""
    parts = [
        f"""WITH w0 AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
    array_to_string(list_transform(regexp_extract_all(word, '.'),
      c -> '(' || c || ')'), ' ') || ' (</w>)' AS seq
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
      AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
)"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
p{i} AS (
  SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt,
      unnest(ss[1:greatest(len(ss) - 1, 0)]) AS w1,
      unnest(ss[2:len(ss)]) AS w2
    FROM (SELECT cnt, string_split(seq, ' ') AS ss FROM {prev})
  ) GROUP BY w1, w2
),
t{i} AS MATERIALIZED (
  SELECT w1, w2, pair_count FROM p{i}
  ORDER BY pair_count DESC, w1 ASC, w2 ASC LIMIT 1
),
w{i} AS MATERIALIZED (
  SELECT w.cnt,
    CASE WHEN t.w1 IS NULL THEN w.seq
      ELSE replace(w.seq, t.w1 || ' ' || t.w2,
        substr(t.w1, 1, length(t.w1) - 1) || substr(t.w2, 2))
    END AS seq
  FROM {prev} w LEFT JOIN t{i} t ON TRUE
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, translate(w1, '()', '') AS w1,"
        f" translate(w2, '()', '') AS w2, pair_count FROM t{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n" + selects


def bigram_ppl(ref_predicate=None):
    """Mirrors sampling.bigram_ppl: zipped-unnest bigram explode
    (DuckDB zips parallel unnests positionally), add-one conditional
    probabilities over the reference subset, per-bigram
    floor(1e6*ln(p)) BEFORE any sum, integer floor divisions."""
    ref = ref_predicate if ref_predicate is not None else "TRUE"
    return f"""WITH dt AS MATERIALIZED (
  SELECT doc_id, is_ref, w1, w2, COUNT(*) AS cnt FROM (
    SELECT doc_id, is_ref,
      unnest(ts[1:greatest(len(ts) - 1, 0)]) AS w1,
      unnest(ts[2:len(ts)]) AS w2
    FROM (
      SELECT doc_id, ({ref}) AS is_ref,
        regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS ts
      FROM documents
    )
  ) GROUP BY doc_id, is_ref, w1, w2
),
rb AS MATERIALIZED (
  SELECT w1, w2, SUM(cnt) AS cb FROM dt WHERE is_ref
  GROUP BY w1, w2
),
rc AS MATERIALIZED (
  SELECT w1, SUM(cb) AS c1 FROM rb GROUP BY w1
),
vv AS (
  SELECT COUNT(*) AS v FROM rc
),
scored AS (
  SELECT dt.doc_id, dt.cnt,
    CAST(floor(ln(CAST(COALESCE(rb.cb, 0) + 1 AS DOUBLE)
                  / CAST(COALESCE(rc.c1, 0) + vv.v AS DOUBLE))
               * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS lp_micro
  FROM dt
  LEFT JOIN rb ON dt.w1 = rb.w1 AND dt.w2 = rb.w2
  LEFT JOIN rc ON dt.w1 = rc.w1, vv
),
agg AS (
  SELECT doc_id,
    CAST(SUM(cnt * lp_micro) AS BIGINT) AS logprob_micro,
    CAST(SUM(cnt) AS BIGINT) AS n_bigrams
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, logprob_micro,
  CAST((-logprob_micro) // n_bigrams AS BIGINT) AS mean_nll_micro,
  CAST(((-logprob_micro) // n_bigrams) // 1000000 AS BIGINT)
    AS ppl_band
FROM agg"""
