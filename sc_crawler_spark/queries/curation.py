"""Corpus-curation operators for the training-data pipeline — the
filters a large-scale pretraining pipeline runs between raw crawl and
tokenizer (no reference analog; these extend SURVEY.md §6's LLM-data
component set alongside dedup/quality/langid):

- ``doc_repetition``       — Gopher-style repetition metrics (distinct
  token ratio, top token/bigram share, duplicate 5-gram ratio).
- ``doc_pii_scrub``        — PII detection + redaction (emails, phone
  numbers) with deterministic fixture injection.
- ``decontaminate_docs``   — benchmark decontamination: flag training
  docs sharing any 5-gram with an eval-prompt set (semi-join on gram
  hashes, the standard 13-gram-overlap shape at small-doc scale).
- ``lang_balanced_sample`` — deterministic per-language quota sampling
  (domain/language mixture control).

Scale notes: every candidate generator is an equi-join on grams or a
partial-aggregable groupBy; repetition counts shuffle (doc_id, gram)
pairs with map-side combine; quota sampling's rank-filter compiles to
WindowGroupLimit (per-partition top-N before the shuffle), so few-group
skew does not serialize the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import dround, sql_round
from ..functions.text import tokens
from ..tables import load

# ------------------------------------------------------- repetition metrics


def _grams(toks, k: int):
    """Positional (NON-distinct) k-word grams: zip the token array with
    its own shifted slices (O(k) passes — see shingles_from_tokens), then
    trim the null-padded tail."""
    big = F.lit(1 << 30)
    zipped = toks
    for j in range(2, k + 1):
        zipped = F.zip_with(zipped, F.slice(toks, j, big),
                            lambda a, b: F.concat(a, F.lit(" "), b))
    n = F.size(toks)
    return F.slice(zipped, 1, F.greatest(n - F.lit(k - 1), F.lit(1)))


def doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021
    §A1.3 adapted to token grams): distinct-token ratio, share of tokens
    claimed by the most frequent token and bigram, and the fraction of
    5-gram instances that are repeats. High values mark boilerplate-y /
    looped documents that repetition filters drop before training."""
    docs = load(spark, sf, "documents")
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    base = toked.select(
        "doc_id", "n",
        dround(F.size(F.array_distinct("toks")) / F.col("n"), 6)
        .alias("distinct_ratio"),
        dround(
            F.lit(1.0)
            - F.size(F.array_distinct(_grams(F.col("toks"), 5)))
            / F.size(_grams(F.col("toks"), 5)), 6)
        .alias("dup_5gram_ratio"),
    )
    uni = (
        toked.select("doc_id", F.explode("toks").alias("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("_top_uni"))
    )
    bi = (
        toked.select("doc_id", F.explode(_grams(F.col("toks"), 2)).alias("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(F.max("count").alias("_top_bi"))
    )
    return (
        base.join(uni, "doc_id").join(bi, "doc_id")
        .select(
            "doc_id", "n",
            "distinct_ratio",
            dround(F.col("_top_uni") / F.col("n"), 6).alias("top_token_share"),
            dround(F.col("_top_bi") * 2 / F.col("n"), 6)
            .alias("top_bigram_share"),
            "dup_5gram_ratio",
        )
    )


REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
g5 AS (
  SELECT doc_id,
         [array_to_string(words[i:i+4], ' ')
          FOR i IN generate_series(1, greatest(len(words)-4, 1))] AS grams
  FROM toks),
uni AS (
  SELECT doc_id, MAX(c) AS top_uni FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(words) AS tok FROM toks)
    GROUP BY doc_id, tok) GROUP BY doc_id),
bi AS (
  SELECT doc_id, MAX(c) AS top_bi FROM (
    SELECT doc_id, g, COUNT(*) AS c FROM (
      SELECT doc_id, words[i] || ' ' || words[i+1] AS g
      FROM toks, unnest(generate_series(1, greatest(len(words)-1, 1))) AS t(i))
    GROUP BY doc_id, g) GROUP BY doc_id)
SELECT t.doc_id, len(t.words) AS n,
  {sql_round('len(list_distinct(t.words)) / CAST(len(t.words) AS DOUBLE)', 6)}
    AS distinct_ratio,
  {sql_round('uni.top_uni / CAST(len(t.words) AS DOUBLE)', 6)}
    AS top_token_share,
  {sql_round('bi.top_bi * 2 / CAST(len(t.words) AS DOUBLE)', 6)}
    AS top_bigram_share,
  {sql_round('1.0 - len(list_distinct(g5.grams)) / CAST(len(g5.grams) AS DOUBLE)', 6)}
    AS dup_5gram_ratio
FROM toks t JOIN uni USING (doc_id) JOIN bi USING (doc_id)
            JOIN g5 USING (doc_id)
"""

# ------------------------------------------------------------- PII scrubbing

_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"555-[0-9]{4}"


def doc_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII detect + redact. The synthetic corpus is PII-free, so the
    query injects deterministic fixtures first (the same
    inject-then-operate pattern as _docs_with_clones): docs with
    doc_id%7==0 gain an email, doc_id%11==0 a phone number — %77 rows
    carry both. Detection counts regex matches; redaction substitutes
    typed placeholders; the md5 of the redacted text is the
    cross-engine witness that the rewrite is byte-identical."""
    docs = load(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" call 555-0142 today")).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(injected, _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE, "[PHONE]")
    return docs.select(
        "doc_id",
        F.regexp_count(injected, F.lit(_EMAIL_RE)).cast("long")
        .alias("n_emails"),
        F.regexp_count(injected, F.lit(_PHONE_RE)).cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


PII_SQL = rf"""
WITH injected AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0142 today' ELSE '' END
    AS itext
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(itext, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(itext, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
  md5(regexp_replace(regexp_replace(itext, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                     '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM injected
"""

# -------------------------------------------------------- decontamination


def decontaminate_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination report: eval prompts are the first 8
    tokens of every doc_id%13==0 document (simulating benchmark items
    leaked from the crawl); a training doc (everything else) is
    contaminated when it shares ANY 3-gram with any prompt (real
    pipelines use 13-grams; the synthetic corpus is short-doc, so the
    gram order scales down with it). Output is (doc_id, n_shared_grams)
    per contaminated training doc.

    Both sides reduce to DISTINCT (id, gram) sets joined on the gram —
    an equi-join candidates-only shape (never doc x doc); at 100 TB the
    eval-gram side is dictionary-sized and broadcasts."""
    docs = load(spark, sf, "documents")
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks"))
    eval_grams = (
        toked.filter(F.col("doc_id") % 13 == 0)
        .select(F.explode(
            F.array_distinct(_grams(F.slice("toks", 1, 8), 3))).alias("gram"))
        .distinct()
    )
    train_grams = (
        toked.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id",
                F.explode(F.array_distinct(_grams(F.col("toks"), 3)))
                .alias("gram"))
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )


DECONTAMINATE_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
eval_grams AS (
  SELECT DISTINCT array_to_string(words[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, words[1:8] AS words FROM toks WHERE doc_id % 13 = 0),
       unnest(generate_series(1, greatest(len(words)-2, 1))) AS t(i)),
train_grams AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS gram
  FROM toks, unnest(generate_series(1, greatest(len(words)-2, 1))) AS t(i)
  WHERE doc_id % 13 != 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM train_grams JOIN eval_grams USING (gram)
GROUP BY doc_id
"""

# ------------------------------------------------------- mixture sampling

_LANG_QUOTA = 40


def lang_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Language-mixture control: a deterministic per-language quota
    sample (first ``_LANG_QUOTA`` docs per lang ordered by
    md5(doc_id) — a seeded shuffle both engines reproduce exactly).
    The rank<=N filter compiles to WindowGroupLimit: every input
    partition keeps only its local top-N before the lang shuffle, so
    5-language skew cannot serialize the scan."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _LANG_QUOTA)
        .select("lang", "doc_id", F.col("sample_rank").cast("long")
                .alias("sample_rank"))
    )


LANG_SAMPLE_SQL = f"""
SELECT lang, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
         AS sample_rank
  FROM documents)
WHERE sample_rank <= {_LANG_QUOTA}
"""


# -------------------------------------------------- domain balancing

# Multi-label public suffixes the embedded PSL subset recognizes. Real
# pipelines load the full Mozilla public-suffix list (thousands of
# rules, same longest-match evaluation); the rule ENGINE below is the
# real one — only the rule table is abbreviated to the suffixes the
# synthetic corpus exercises.
_MULTI_SUFFIX = ["co.uk", "ac.uk", "com.au", "co.jp", "com.br"]
# Deterministic URL synthesis (the lake's documents carry opaque srcN
# sources, not URLs): host = pool[doc_id % 16]. The pool is skewed —
# wikipedia.org 5/16, reddit.com 3/16 — and spreads one registrable
# domain across SUBDOMAINS (en./m. wikipedia, www./old. reddit,
# news./www. bbc.co.uk) so the sampler must aggregate at eTLD+1, not
# hostname: per-host quotas would hand wikipedia.org 2x reddit.com's
# share despite the quota.
_HOST_POOL = [
    "en.wikipedia.org", "en.wikipedia.org", "en.wikipedia.org",
    "en.wikipedia.org", "m.wikipedia.org",
    "www.reddit.com", "www.reddit.com", "old.reddit.com",
    "github.com", "gist.github.com",
    "news.bbc.co.uk", "www.bbc.co.uk",
    "shop.amazon.co.uk", "blog.example.com.au",
    "docs.python.org", "stackoverflow.com",
]
_DOMAIN_QUOTA = 20


def _etld1(host):
    """Registrable domain (eTLD+1) from a hostname column: the last
    label pair, extended one label left when the pair is itself a
    public suffix (co.uk and friends). Pure JVM expressions — split +
    element_at + a literal isin — no UDF."""
    parts = F.split(host, r"\.")
    last2 = F.concat_ws(".", F.element_at(parts, -2),
                        F.element_at(parts, -1))
    return F.when(
        last2.isin(_MULTI_SUFFIX) & (F.size(parts) >= 3),
        F.concat_ws(".", F.element_at(parts, -3), last2)
    ).otherwise(last2)


def domain_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """eTLD+1 domain-balanced sampling (r8 verdict item 9): cap every
    REGISTRABLE domain — not hostname — at ``_DOMAIN_QUOTA`` docs, the
    standard guard against one crawled site dominating a training mix.
    URLs are synthesized deterministically from doc_id (corpus carries
    no URLs), the host is parsed back out of the URL and reduced to
    eTLD+1 by the embedded public-suffix rules, and the per-domain
    quota is a seeded-hash rank — the exact lang_balanced_sample
    machinery, so the rank<=N filter compiles to WindowGroupLimit and
    single-domain skew (wikipedia at 5/16 of the corpus) cannot
    serialize the scan at 100 TB."""
    docs = load(spark, sf, "documents").select("doc_id")
    pool = F.array(*[F.lit(h) for h in _HOST_POOL])
    url = F.concat(F.lit("https://"),
                   F.element_at(pool, (F.col("doc_id") % 16 + 1)
                                .cast("int")),
                   F.lit("/doc/"), F.col("doc_id"))
    host = F.regexp_extract(url, r"^https://([^/]+)/", 1)
    staged = docs.select("doc_id", _etld1(host).alias("domain"))
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        staged.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _DOMAIN_QUOTA)
        .select("domain", "doc_id",
                F.col("sample_rank").cast("long").alias("sample_rank"))
    )


_POOL_SQL = "[" + ", ".join(f"'{h}'" for h in _HOST_POOL) + "]"
_SUFFIX_SQL = ", ".join(f"'{s}'" for s in _MULTI_SUFFIX)

DOMAIN_SAMPLE_SQL = f"""
WITH hosts AS (
  SELECT doc_id,
         regexp_extract('https://' || ({_POOL_SQL})[CAST(doc_id % 16 + 1 AS INT)]
                        || '/doc/' || doc_id, '^https://([^/]+)/', 1) AS host
  FROM documents
),
doms AS (
  SELECT doc_id,
         CASE WHEN parts[-2] || '.' || parts[-1] IN ({_SUFFIX_SQL})
                   AND len(parts) >= 3
              THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
              ELSE parts[-2] || '.' || parts[-1] END AS domain
  FROM (SELECT doc_id, string_split(host, '.') AS parts FROM hosts)
)
SELECT domain, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
         AS sample_rank
  FROM doms)
WHERE sample_rank <= {_DOMAIN_QUOTA}
"""


# -------------------------------------------------- HTML main-content extraction

# The crawl pipeline's step 0: raw HTML -> main text. The lake's
# documents are already plain text, so — the media_pcm_stats doctrine —
# the page is SYNTHESIZED deterministically around each doc's text
# (entity-escaped body inside chrome: head/style, nav, an ad block, a
# footer) and the extractor strips it back; both engines reproduce both
# directions from the same arithmetic, so the oracle hash proves the
# escape -> wrap -> block-drop -> tag-strip -> unescape round trip
# character-exact, not just "some text came out".
_BOILER_NAV = '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
_BOILER_AD = '<div class="ad">SUBSCRIBE TO PREMIUM</div>'
_BOILER_FOOT = "<footer>&copy; 2026 example.com &middot; Terms</footer>"
# Block-level chrome dropped WITH their contents; the non-greedy
# bodies never span user text (user text lives only inside <article>).
_DROP_BLOCKS = [r"<head>.*?</head>", r"<nav>.*?</nav>",
                r'<div class="ad">.*?</div>', r"<footer>.*?</footer>"]


def _escaped(text):
    """Minimal HTML entity escape (&, <, > — & first so later entities
    survive). fixed-string replace in both engines, no regex."""
    e = F.replace(text, F.lit("&"), F.lit("&amp;"))
    e = F.replace(e, F.lit("<"), F.lit("&lt;"))
    return F.replace(e, F.lit(">"), F.lit("&gt;"))


def _synth_html(doc_id, text):
    did = doc_id.cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>body{margin:0}</style></head><body>"),
        F.lit(_BOILER_NAV),
        F.lit("<h1>Doc "), did, F.lit("</h1><article><p>"),
        _escaped(text),
        F.lit("</p></article>"), F.lit(_BOILER_AD), F.lit(_BOILER_FOOT),
        F.lit("</body></html>"))


def html_main_text(html):
    """Main-content extraction as pure JVM expressions: drop chrome
    blocks (head/nav/ad/footer, contents and all), turn block closers
    into separators, strip every remaining tag, decode entities
    (reverse order of the escape), squeeze whitespace. The trafilatura
    SHAPE — block classification then text normalization — with the
    classifier reduced to the literal chrome this synthesis emits."""
    t = html
    for pat in _DROP_BLOCKS:
        t = F.regexp_replace(t, pat, "")
    t = F.regexp_replace(t, r"</(p|h1|article)>", " ")
    t = F.regexp_replace(t, r"<[^>]+>", "")
    t = F.replace(t, F.lit("&lt;"), F.lit("<"))
    t = F.replace(t, F.lit("&gt;"), F.lit(">"))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(t, r" {2,}", " "))


def html_extract_text(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl step 0 end to end: synthesize the page, extract the main
    text, report md5 + sizes. One stateless projection — zero
    exchanges, whole-stage codegen, no Python anywhere (plan-pinned) —
    so at 100 TB it runs at parquet-scan speed; the extracted text is
    hash-verified against the oracle's independent reproduction."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    html = _synth_html(F.col("doc_id"), F.col("text"))
    main = html_main_text(html)
    return docs.select(
        "doc_id",
        F.md5(main).alias("extract_md5"),
        F.length(main).cast("bigint").alias("extract_chars"),
        (F.length(html) - F.length(main)).cast("bigint")
        .alias("chrome_chars"),
    )


HTML_EXTRACT_SQL = """
WITH pages AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || doc_id ||
         '</title><style>body{margin:0}</style></head><body>' ||
         '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>' ||
         '<h1>Doc ' || doc_id || '</h1><article><p>' ||
         replace(replace(replace(text, '&', '&amp;'),
                 '<', '&lt;'), '>', '&gt;') ||
         '</p></article><div class="ad">SUBSCRIBE TO PREMIUM</div>' ||
         '<footer>&copy; 2026 example.com &middot; Terms</footer>' ||
         '</body></html>' AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html,
                         '<head>.*?</head>', '', 'g'),
                       '<nav>.*?</nav>', '', 'g'),
                     '<div class="ad">.*?</div>', '', 'g'),
                   '<footer>.*?</footer>', '', 'g'),
                 '</(p|h1|article)>', ' ', 'g'),
               '<[^>]+>', '', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
           ' {2,}', ' ', 'g')) AS main
  FROM pages
)
SELECT doc_id, md5(main) AS extract_md5,
       CAST(length(main) AS BIGINT) AS extract_chars,
       CAST(length(html) - length(main) AS BIGINT) AS chrome_chars
FROM extracted
"""


# -------------------------------------------------- temperature mixing

_MIX_ALPHA = 0.7     # source weight ∝ n^alpha — upweights small sources
_MIX_TARGET = 300    # expected sample size across the corpus


def temperature_mix_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-weighted corpus mixing (the GPT-3-style sampler):
    source s gets weight n_s^alpha / Σ n^alpha — alpha < 1 upweights
    small sources — and each doc keeps with probability
    p_s = target·w_s / n_s, decided by a DETERMINISTIC md5-derived
    uniform so the sample is reproducible in both engines (no rand()).
    Output: kept docs with their source's keep probability.

    One tiny groupBy for source counts (broadcast back) + a stateless
    per-row filter — nothing here shuffles the corpus itself."""
    docs = load(spark, sf, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = counts.agg(
        F.sum(F.pow(F.col("n_s").cast("double"), _MIX_ALPHA)).alias("z"))
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        (F.lit(_MIX_TARGET)
         * F.pow(F.col("n_s").cast("double"), _MIX_ALPHA) / F.col("z")
         / F.col("n_s").cast("double")).alias("p_keep"),
    )
    # uniform in [0,1): first 6 hex digits of md5(doc_id) / 16^6
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                16, 10).cast("double") / F.lit(float(16 ** 6)))
    return (
        docs.join(F.broadcast(probs), "source")
        .filter(u < F.col("p_keep"))
        .select("source", "doc_id", dround(F.col("p_keep"), 6)
                .alias("p_keep"))
    )


MIX_SQL = f"""
WITH counts AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
z AS (SELECT SUM(POW(n_s, {_MIX_ALPHA})) AS z FROM counts),
probs AS (
  SELECT source,
         {_MIX_TARGET} * POW(n_s, {_MIX_ALPHA}) / z / n_s AS p_keep
  FROM counts, z)
SELECT d.source, d.doc_id, {sql_round('p.p_keep', 6)} AS p_keep
FROM documents d JOIN probs p USING (source)
WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
      / CAST({16 ** 6} AS DOUBLE) < p.p_keep
"""

# -------------------------------------------- weighted reservoir (A-ES, r16)

_WRS_K = 200


def weighted_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-ES reservoir, the standard way a training
    pipeline draws a fixed-size sample biased to long/high-quality
    documents: each doc gets key u^(1/w) (equivalently ln(u)/w, the
    monotone form used here — better float spread for large w) with a
    DETERMINISTIC md5-derived uniform, and the global top-k keys ARE
    the weighted sample. Weight = text length.

    Engine parity: u = (md5-prefix integer + 0.5) / 16^6 (the +0.5
    keeps u strictly inside (0,1), so ln never sees 0) — exact
    rational, identical in both engines; the ranking key is rounded
    to 12 decimals through DECIMAL before the top-k (doc_id
    tiebreak), so a last-ulp ln() divergence cannot flip selection
    except on a ~2^-40 rounding-boundary coincidence.

    Scale shape: one stateless scan computes (key, weight) per row,
    and the global top-k is TakeOrdered (per-partition heaps + one
    k-row merge at the driver) — no full sort, no shuffle of the
    corpus; at 100 TB this is the cheapest possible pass."""
    docs = load(spark, sf, "documents").select("doc_id", "source", "text")
    # greatest(len, 1): a zero-length doc would divide ln(u) by 0.0
    # (-Infinity), which Spark's DECIMAL cast NULLs while DuckDB's
    # raises — same wcd guard gopher_quality_rules uses.
    w = F.greatest(F.length("text"), F.lit(1)).cast("double")
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                 16, 10).cast("double") + F.lit(0.5))
         / F.lit(float(16 ** 6)))
    key = dround(F.log(u) / w, 12)
    return (docs.select("doc_id", "source",
                        F.length("text").cast("long").alias("weight"),
                        key.alias("_k"))
            .orderBy(F.col("_k").desc(), F.col("doc_id"))
            .limit(_WRS_K)
            .select("doc_id", "source", "weight",
                    dround(F.col("_k"), 6).alias("sample_key")))


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS weight,
         {sql_round("ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)"
                    " AS BIGINT) + 0.5) / CAST(" + str(16 ** 6) + " AS DOUBLE))"
                    " / CAST(greatest(length(text), 1) AS DOUBLE)", 12)} AS k
  FROM documents)
SELECT doc_id, source, weight, {sql_round('k', 6)} AS sample_key
FROM keyed ORDER BY k DESC, doc_id LIMIT {_WRS_K}
"""

# ------------------------------------------------------- sequence packing

_PACK_BUDGET = 256


def pack_sequences_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy token packing of the corpus into 256-token training
    sequences (operators/packing.py — applyInPandas: bin assignment is
    a prefix-scan with resets, beyond window functions). ORACLE-CHECKED
    since r6: the per-shard scan is sequential-by-construction, so a
    DuckDB recursive CTE replays it row-by-row (rn-indexed state
    machine carrying the open bin and its fill — same trick that made
    dedup_cluster_resolve and the k-means mirror hash-checkable);
    tests/test_packing.py additionally pins the invariants against a
    local re-implementation."""
    from ..operators.packing import pack_sequences

    docs = load(spark, sf, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return pack_sequences(docs, "doc_id", "n_tokens", budget=_PACK_BUDGET)


# The recursive CTE replays pack_sequences' per-shard greedy scan as an
# explicit state machine: state BEFORE doc rn is (nxt_seq, nxt_acc);
# an oversize doc closes any open bin and takes its own; an overflow
# opens the next bin. One recursion step per doc per shard — all
# shards advance in the same iteration, so depth = max shard length.
PACK_SQL = f"""
WITH RECURSIVE docs AS (
  SELECT CAST(doc_id % 8 AS BIGINT) AS shard, doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
rec AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq_idx,
         n_tokens >= {_PACK_BUDGET} AS truncated,
         CAST(CASE WHEN n_tokens >= {_PACK_BUDGET} THEN 1 ELSE 0 END
              AS BIGINT) AS nxt_seq,
         CAST(CASE WHEN n_tokens >= {_PACK_BUDGET} THEN 0 ELSE n_tokens END
              AS BIGINT) AS nxt_acc
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN d.n_tokens >= {_PACK_BUDGET}
              THEN r.nxt_seq + (CASE WHEN r.nxt_acc > 0 THEN 1 ELSE 0 END)
              WHEN r.nxt_acc + d.n_tokens > {_PACK_BUDGET} THEN r.nxt_seq + 1
              ELSE r.nxt_seq END AS seq_idx,
         d.n_tokens >= {_PACK_BUDGET} AS truncated,
         CASE WHEN d.n_tokens >= {_PACK_BUDGET}
              THEN r.nxt_seq + (CASE WHEN r.nxt_acc > 0 THEN 1 ELSE 0 END) + 1
              WHEN r.nxt_acc + d.n_tokens > {_PACK_BUDGET} THEN r.nxt_seq + 1
              ELSE r.nxt_seq END AS nxt_seq,
         CASE WHEN d.n_tokens >= {_PACK_BUDGET} THEN 0
              WHEN r.nxt_acc + d.n_tokens > {_PACK_BUDGET} THEN d.n_tokens
              ELSE r.nxt_acc + d.n_tokens END AS nxt_acc
  FROM rec r JOIN docs d ON d.shard = r.shard AND d.rn = r.rn + 1)
SELECT shard, seq_idx, doc_id, n_tokens, truncated FROM rec
"""


# ----------------------------------------------------- training shards

_N_SHARDS = 16
_SHARD_SEED = 7


def training_shard_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Balance profile of the seeded global-shuffle shard assignment
    (operators/packing.py shard_assignment — the routing used by
    write_training_shards): per-shard doc count + token sum. The oracle
    mirrors the md5 arithmetic digit-for-digit, so this checks the
    actual epoch-shuffle placement, not just the aggregates."""
    from ..operators.packing import shard_assignment

    docs = load(spark, sf, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return shard_assignment(docs, "doc_id", _N_SHARDS, seed=_SHARD_SEED).groupBy(
        "shard"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


SHARD_STATS_SQL = f"""
WITH a AS (
  SELECT CAST(CAST('0x' || substring(md5('{_SHARD_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % {_N_SHARDS} AS INTEGER) AS shard,
         len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents)
SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM a GROUP BY shard
"""


def train_split_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/validation/test split (98/1/1) with
    per-split stats (r8) — the assignment every training pipeline
    needs to be REPRODUCIBLE and leakage-free: the split key is a
    seeded content-independent hash of the document id
    (md5('split|' || id) -> bucket 0-99), so membership never depends
    on scan order, partitioning, or corpus growth (a doc keeps its
    split when the corpus around it changes — positional splits
    don't). Same seeded-md5-uniform convention as
    temperature_mix_sample / training shards. One stateless per-row
    projection + a 3-row aggregate: nothing shuffles the corpus."""
    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    bucket = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("split|"),
                           F.col("doc_id").cast("string"))), 1, 6),
               16, 10).cast("bigint") % 100)
    split = (F.when(bucket < 98, "train")
             .when(bucket == 98, "validation")
             .otherwise("test"))
    return (docs.select(split.alias("split"), "n_chars")
            .groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars")))


SPLIT_STATS_SQL = """
WITH b AS (
  SELECT CAST('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)),
              1, 6) AS BIGINT) % 100 AS bucket, n_chars
  FROM documents)
SELECT CASE WHEN bucket < 98 THEN 'train'
            WHEN bucket = 98 THEN 'validation'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1
"""


# ------------------------------------------- UniMax mixture solver

# Token budget = this fraction of the corpus; per-source cap = this
# many epochs of its own tokens (the UniMax rule: small sources repeat
# at most k times, the remainder water-fills across the big ones).
_UNIMAX_BUDGET_FRAC = 0.5
_UNIMAX_EPOCH_CAP = 2


def unimax_mixture_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing ALLOCATION SOLVER in-plan (the UniMax shape: cap
    every source at k epochs, water-fill the remaining budget evenly):
    given per-source token counts n_s, budget B = frac*total and cap_s
    = k*n_s, find the water level t with sum_s min(cap_s, t) = B and
    emit alloc_s = min(cap_s, t). The level has a CLOSED FORM over the
    cap-sorted prefix — for i saturated sources, t(i) = (B - cumcap_i)
    / (S - i), valid in exactly one segment — so the solver is one
    window pass + a 1-row broadcast, no iteration and no driver math.

    Engine parity: everything up to t is integer; t and the final
    allocations are identically-parenthesized integer-input divisions
    rounded to 4. If B >= sum(cap) every source saturates (t falls
    back to the max cap).

    Scale shape: the per-source table is dictionary-sized, but the
    one corpus-sized pass (token counts) partial-aggregates map-side;
    the window runs over |sources| rows."""
    docs = load(spark, sf, "documents")
    src = (docs.groupBy("source")
           .agg(F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")))
    cap = (F.col("n_tokens") * _UNIMAX_EPOCH_CAP).cast("long")
    tot = src.agg(
        F.floor(F.sum("n_tokens") * F.lit(_UNIMAX_BUDGET_FRAC))
        .cast("long").alias("budget"),
        F.count("*").alias("n_sources"))
    w = Window.orderBy(F.col("cap").asc(), F.col("source"))
    ranked = (src.withColumn("cap", cap)
              .crossJoin(F.broadcast(tot))
              .withColumn("rn", F.row_number().over(w))
              .withColumn("cumcap", F.sum("cap").over(
                  w.rowsBetween(Window.unboundedPreceding, 0)))
              .withColumn("prev_cap", F.coalesce(
                  F.lag("cap").over(w).cast("double"), F.lit(0.0))))
    # threshold candidate assuming the rn-1 smaller sources saturate
    t_cand = ((F.col("budget") - (F.col("cumcap") - F.col("cap")))
              .cast("double")
              / (F.col("n_sources") - F.col("rn") + 1).cast("double"))
    level = (ranked.withColumn("t", t_cand)
             .filter((F.col("t") >= F.col("prev_cap"))
                     & (F.col("t") < F.col("cap").cast("double")))
             .agg(F.min("t").alias("t")))
    max_cap = ranked.agg(F.max("cap").cast("double").alias("t_sat"))
    return (ranked.crossJoin(F.broadcast(level))
            .crossJoin(F.broadcast(max_cap))
            .select(
                "source", "n_tokens", F.col("cap").alias("token_cap"),
                dround(F.least(
                    F.col("cap").cast("double"),
                    F.coalesce(F.col("t"), F.col("t_sat"))), 4)
                .alias("alloc_tokens"),
                dround(F.least(
                    F.col("cap").cast("double"),
                    F.coalesce(F.col("t"), F.col("t_sat")))
                    / F.col("n_tokens").cast("double"), 6)
                .alias("epochs_used")))


UNIMAX_SQL = f"""
WITH src AS (
  SELECT source, SUM(len(string_split(lower(text), ' '))) AS n_tokens
  FROM documents GROUP BY source),
tot AS (
  SELECT CAST(floor(SUM(n_tokens) * {_UNIMAX_BUDGET_FRAC}) AS BIGINT)
           AS budget,
         COUNT(*) AS n_sources
  FROM src),
ranked AS (
  SELECT source, n_tokens,
         CAST(n_tokens * {_UNIMAX_EPOCH_CAP} AS BIGINT) AS cap,
         budget, n_sources,
         row_number() OVER (ORDER BY n_tokens * {_UNIMAX_EPOCH_CAP},
                            source) AS rn,
         SUM(CAST(n_tokens * {_UNIMAX_EPOCH_CAP} AS BIGINT))
           OVER (ORDER BY n_tokens * {_UNIMAX_EPOCH_CAP}, source
                 ROWS UNBOUNDED PRECEDING) AS cumcap,
         COALESCE(CAST(lag(CAST(n_tokens * {_UNIMAX_EPOCH_CAP} AS BIGINT))
           OVER (ORDER BY n_tokens * {_UNIMAX_EPOCH_CAP}, source)
           AS DOUBLE), 0.0) AS prev_cap
  FROM src CROSS JOIN tot),
cand AS (
  SELECT *,
         CAST(budget - (cumcap - cap) AS DOUBLE)
           / CAST(n_sources - rn + 1 AS DOUBLE) AS t
  FROM ranked),
level AS (SELECT MIN(t) AS t FROM cand
          WHERE t >= prev_cap AND t < CAST(cap AS DOUBLE)),
sat AS (SELECT CAST(MAX(cap) AS DOUBLE) AS t_sat FROM ranked)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       cap AS token_cap,
       {sql_round("least(CAST(cap AS DOUBLE), COALESCE(t, t_sat))", 4)}
         AS alloc_tokens,
       {sql_round("least(CAST(cap AS DOUBLE), COALESCE(t, t_sat))"
                  " / CAST(n_tokens AS DOUBLE)", 6)} AS epochs_used
FROM ranked CROSS JOIN level CROSS JOIN sat
"""


# ---------------------------------------------- n-gram novelty

def doc_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram NOVELTY (memorization-risk / informativeness
    signal): the fraction of a doc's distinct 3-grams that appear in NO
    other document. High novelty marks unique content worth keeping;
    near-zero novelty marks templated/boilerplate text even when no
    single near-dup pair exists (the complement of the dedup tier:
    dedup finds PAIRS, novelty scores each doc against the whole
    corpus). Docs shorter than 3 tokens drop out in both engines
    (empty gram set).

    Scale shape: tf-idf's exact three-stage plan — one (doc, gram)
    explode with per-doc DISTINCT folded into the array expression, a
    gram-partitioned window for document frequency (the gram table is
    never joined to itself), and the per-doc final agg. All counts
    integer: no float convention needed beyond the output ratio."""
    docs = load(spark, sf, "documents")
    # token array materialized once — _grams(toks, 3) + the size guard
    # reference toks 6x; inline = 6 splits per row (r17)
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(F.size(toks) >= 3, F.array_distinct(_grams(toks, 3))) \
             .otherwise(F.expr("CAST(array() AS array<string>)"))
    g = toked.select("doc_id", F.explode(grams).alias("gram"))
    df_w = Window.partitionBy("gram")
    per = (g.withColumn("df", F.count("*").over(df_w))
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_grams"),
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                .alias("n_novel")))
    return per.select(
        "doc_id", F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        dround(F.col("n_novel").cast("double")
               / F.col("n_grams").cast("double"), 6).alias("novelty"))


NGRAM_NOVELTY_SQL = f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         ws[s.i] || ' ' || ws[s.i + 1] || ' ' || ws[s.i + 2] AS gram
  FROM t, unnest(generate_series(1, len(ws) - 2)) AS s(i)),
d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df FROM g),
per AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
  FROM d GROUP BY doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       {sql_round("CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6)}
         AS novelty
FROM per
"""


# ---------------------------------------------- DSIR data selection

# Data Selection with Importance Resampling (Xie et al. 2023): fit two
# bag-of-hashed-ngram multinomial LMs — one on a small TARGET domain,
# one on the raw pool — and resample raw docs proportionally to the
# importance weight p_target(x)/p_raw(x). The published recipe is
# hashed unigram+bigram features, add-smoothing, and Gumbel-top-k for
# sampling without replacement; all of it is relational.
_DSIR_B = 512          # hashed feature buckets
_DSIR_K = 50           # docs to select
_DSIR_TARGET = "src0"  # the target domain (5% of the pool)


def dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling over the corpus: hashed
    unigram+bigram bucket counts (md5 -> one of ``_DSIR_B`` buckets),
    add-0.5-smoothed multinomial LMs for the target domain
    (``source = 'src0'``) vs the raw pool, per-doc importance weight
    log w(x) = sum_g c_g(x) * (log2 p_tgt(g) - log2 p_raw(g)), then
    Gumbel-top-k selection (log w + Gumbel noise from the seeded
    md5-uniform convention == sampling w/o replacement proportional
    to softmax(log w)). Output: the ``_DSIR_K`` selected docs with
    weight, key and rank.

    Engine-exact by the log2-parity doctrine (doc_lm_perplexity):
    every log2/ln input is an identically-parenthesized IEEE double
    (counts + 0.5, totals + B/2 — exact in double), per-bucket ratios
    round to 12 decimals before the DECIMAL(28,12)-routed per-doc
    sum, and the Gumbel key orders on its 12-decimal rounding with a
    doc_id tiebreak.

    Scale shape: the exploded (doc, bucket) gram instances are never
    compressed into a per-doc count table (that groupBy's key space is
    |docs| x |buckets| — at the 512x corpus it emitted ~300M groups
    and dominated the runtime); instead the LM is a 512-group
    partial-aggregable count over the instances, and scoring joins
    each instance to the broadcast 512-row log-ratio dictionary and
    map-side-combines straight down to one row per doc (the per-doc
    partial agg compresses BEFORE the only corpus shuffle). The
    instance-level DECIMAL sum of 12-decimal-rounded lr values is
    exactly cnt*lr summed per bucket, so the semantics are unchanged.
    Selection is orderBy+limit (TakeOrderedAndProject — never a global
    window over the corpus). The LM never touches the driver.

    One text pass (r14, r13 verdict task 7): LM-fit and scoring both
    consume the hashed-gram instances, which previously re-ran
    tokenize+md5 per stage (the corpus text scanned twice — the
    dominant cost at 512x). The persisted frame is the PRE-EXPLODE
    (doc_id, source, array<bucket>) feature frame — 2.56M compact
    rows at 512x — from which both stages re-explode. Granularity
    matters and was measured (interleaved 3-arm A/B at 512x,
    best-of-3): persisting the EXPLODED ~150M-row instance table costs
    more to materialize than the explode it saves (34.0 s, no better
    than the 32.2 s two-pass baseline); persisting the bucket ARRAYS
    keeps the cache small, skips tokenize+md5 on the second pass, and
    wins at 27.9 s. On a cluster this is the bronze-landing of the
    DSIR feature frame."""
    from pyspark.storagelevel import StorageLevel
    docs = load(spark, sf, "documents")
    # token array materialized once — the unigram+bigram bucket
    # expression references it 5x (size guard, _grams x3, concat);
    # inline = 5 splits per row (r17)
    toked = docs.select("doc_id", "source",
                        tokens(F.col("text")).alias("_toks"))
    ts = F.col("_toks")
    n = F.size(ts)
    # bigrams via the zip-with-shifted-self fold (_grams), NOT
    # per-index element_at over a sequence: the indexed form walks the
    # token array per position and measured 94 s for the bare explode
    # at the 512x corpus vs ~10 s for this linear zip
    big = F.when(n >= 2, _grams(ts, 2)) \
           .otherwise(F.expr("CAST(array() AS array<string>)"))
    buckets = F.transform(
        F.concat(ts, big),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
        .cast("long") % _DSIR_B)
    # Kept persist: uncached, the scoring branch pushes its target
    # filter below any shared exchange and the text is hashed twice; a
    # doc_id exchange both branches reuse measured slower (CHANGES.md)
    feat = (toked.select("doc_id", "source", buckets.alias("bks"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    inst = feat.select("doc_id", "source", F.explode("bks").alias("bucket"))
    is_tgt = F.col("source") == _DSIR_TARGET
    lm = inst.groupBy("bucket").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~is_tgt, 1).otherwise(0)).alias("rc"))
    tot = lm.agg(F.sum("tc").alias("tt"), F.sum("rc").alias("rt"))
    half_b = float(_DSIR_B) / 2.0
    lr = lm.crossJoin(F.broadcast(tot)).select(
        "bucket",
        dround(
            (F.log2(F.col("tc").cast("double") + F.lit(0.5))
             - F.log2(F.col("tt").cast("double") + F.lit(half_b)))
            - (F.log2(F.col("rc").cast("double") + F.lit(0.5))
               - F.log2(F.col("rt").cast("double") + F.lit(half_b))),
            12).alias("lr"))
    scored = (
        inst.filter(~is_tgt)
        .join(F.broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_grams"),
             F.sum(F.col("lr").cast("decimal(28,12)")).alias("s")))
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                 16, 10).cast("double") + F.lit(0.5))
         / F.lit(float(16 ** 6)))
    key = dround(F.col("s").cast("double") + (-F.log(-F.log(u))), 12)
    top = (scored.withColumn("key", key)
           .orderBy(F.col("key").desc(), "doc_id")
           .limit(_DSIR_K))
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    return top.select(
        "doc_id", "source", F.col("n_grams").cast("long").alias("n_grams"),
        dround(F.col("s").cast("double"), 6).alias("log_weight"),
        dround(F.col("key"), 6).alias("gumbel_key"),
        F.row_number().over(w).cast("long").alias("sel_rank"))


DSIR_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS ts
  FROM documents),
grams AS (
  SELECT doc_id, source, unnest(ts) AS gram FROM docs
  UNION ALL
  SELECT doc_id, source, ts[g.i] || ' ' || ts[g.i + 1] AS gram
  FROM docs, unnest(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2),
inst AS (
  SELECT doc_id, source,
         CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) % {_DSIR_B}
           AS bucket
  FROM grams),
lm AS (
  SELECT bucket,
         SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS tc,
         SUM(CASE WHEN source <> '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS rc
  FROM inst GROUP BY bucket),
tot AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM lm),
lr AS (
  SELECT bucket,
         {sql_round(f"(log2(CAST(tc AS DOUBLE) + 0.5)"
                    f" - log2(CAST(tt AS DOUBLE) + {float(_DSIR_B) / 2.0}))"
                    f" - (log2(CAST(rc AS DOUBLE) + 0.5)"
                    f" - log2(CAST(rt AS DOUBLE) + {float(_DSIR_B) / 2.0}))",
                    12)} AS lr
  FROM lm CROSS JOIN tot),
scored AS (
  SELECT f.doc_id, f.source, COUNT(*) AS n_grams,
         SUM(CAST(l.lr AS DECIMAL(28,12))) AS s
  FROM inst f JOIN lr l USING (bucket)
  WHERE f.source <> '{_DSIR_TARGET}'
  GROUP BY f.doc_id, f.source),
keyed AS (
  SELECT doc_id, source, n_grams, s,
         {sql_round(
             "CAST(s AS DOUBLE) + (-ln(-ln((CAST('0x' || substring("
             "md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)"
             f" + 0.5) / {float(16 ** 6)})))", 12)} AS key
  FROM scored),
ranked AS (
  SELECT doc_id, source, n_grams, s, key,
         row_number() OVER (ORDER BY key DESC, doc_id) AS sel_rank
  FROM keyed)
SELECT doc_id, source, CAST(n_grams AS BIGINT) AS n_grams,
       {sql_round("CAST(s AS DOUBLE)", 6)} AS log_weight,
       {sql_round("key", 6)} AS gumbel_key,
       CAST(sel_rank AS BIGINT) AS sel_rank
FROM ranked WHERE sel_rank <= {_DSIR_K}
"""


def dsir_log_ratios(docs: DataFrame) -> DataFrame:
    """Offline DSIR LM fit for SERVING (r14): the full ``_DSIR_B``-row
    (bucket, lr) log-ratio dictionary — including buckets with zero
    observed grams, whose lr is the same add-0.5-smoothed formula at
    tc=rc=0 (log2(rt+B/2) - log2(tt+B/2)), so a NEW streaming doc
    hashing into an unseen bucket gets the principled smoothed ratio
    instead of silently dropping the gram (the batch query's inner
    join never meets unseen buckets because it scores the fitting
    corpus; an ingest gate does). Collected to 512 floats it is the
    broadcastable model artifact `streaming.stream_dsir_gate`
    serves — the train-offline / gate-at-ingest loop of
    stream_lr_quality_gate, for importance instead of quality."""
    # token array materialized once — see dsir_select (5 refs) (r17)
    toked = docs.select("doc_id", "source",
                        tokens(F.col("text")).alias("_toks"))
    ts = F.col("_toks")
    n = F.size(ts)
    big = F.when(n >= 2, _grams(ts, 2)) \
           .otherwise(F.expr("CAST(array() AS array<string>)"))
    grams = toked.select(
        "doc_id", "source", F.explode(F.concat(ts, big)).alias("gram"))
    bucket = (F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10)
              .cast("long") % _DSIR_B)
    inst = grams.select("source", bucket.alias("bucket"))
    is_tgt = F.col("source") == _DSIR_TARGET
    lm = inst.groupBy("bucket").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("tc"),
        F.sum(F.when(~is_tgt, 1).otherwise(0)).alias("rc"))
    full = (docs.sparkSession.range(_DSIR_B)
            .select(F.col("id").alias("bucket"))
            .join(lm, "bucket", "left")
            .select("bucket",
                    F.coalesce("tc", F.lit(0)).alias("tc"),
                    F.coalesce("rc", F.lit(0)).alias("rc")))
    tot = lm.agg(F.sum("tc").alias("tt"), F.sum("rc").alias("rt"))
    half_b = float(_DSIR_B) / 2.0
    return full.crossJoin(F.broadcast(tot)).select(
        "bucket",
        dround(
            (F.log2(F.col("tc").cast("double") + F.lit(0.5))
             - F.log2(F.col("tt").cast("double") + F.lit(half_b)))
            - (F.log2(F.col("rc").cast("double") + F.lit(0.5))
               - F.log2(F.col("rt").cast("double") + F.lit(half_b))),
            12).alias("lr"))


# ----------------------------------------------- URL canonical dedup

# The crawl-frontier op that runs BEFORE any content dedup: the same
# page arrives under scheme/host case variants, default ports,
# tracking query params, fragments and trailing slashes — canonicalize
# and collapse. Rules are the public crawler standard set: lowercase
# scheme+host, strip the scheme's default port, drop the fragment,
# drop utm_* tracking params and SORT the survivors, strip trailing
# slashes (root stays "/").


def _canonical_url(url):
    """Canonical form of a URL column, pure JVM expressions."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1))
    host = F.when(scheme == "https",
                  F.regexp_replace(hostport, r":443$", "")) \
            .when(scheme == "http",
                  F.regexp_replace(hostport, r":80$", "")) \
            .otherwise(hostport)
    rest = F.regexp_replace(  # path + query + fragment
        url, r"^[A-Za-z]+://[^/?#]+", "")
    rest = F.regexp_replace(rest, r"#.*$", "")       # drop fragment
    path = F.regexp_replace(rest, r"\?.*$", "")
    query = F.when(rest.contains("?"),
                   F.regexp_replace(rest, r"^[^?]*\?", "")).otherwise("")
    path = F.regexp_replace(path, r"/+$", "")        # trailing slashes
    path = F.when(path == "", F.lit("/")).otherwise(path)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(r"^utm_[a-z]+=")))
    qstr = F.when(F.size(kept) > 0,
                  F.concat(F.lit("?"), F.concat_ws("&", kept))) \
            .otherwise("")
    return F.concat(scheme, F.lit("://"), host, path, qstr)


def _messy_url():
    """The deterministically-messy URL fixture (documents carry no URL
    column, so one is synthesized from doc_id): each doc's URL is one
    of five variants of its group's base page (group = doc_id -
    doc_id % 5, host from the shared pool) — clean, SCHEME/HOST-cased
    + explicit :443, utm-tracking params, trailing-slash + fragment,
    and a KEPT pagination param. Shared by url_canonical_dedup and the
    corpus emit's frontier stage so both stages provably canonicalize
    the same URLs."""
    base = (F.col("doc_id") - F.col("doc_id") % 5).cast("long")
    variant = F.col("doc_id") % 5
    pool = F.array(*[F.lit(h) for h in _HOST_POOL])
    host = F.element_at(pool, (base % 16 + 1).cast("int"))
    stem = F.concat(F.lit("/doc/"), base.cast("string"))
    return (
        F.when(variant == 0,
               F.concat(F.lit("https://"), host, stem))
        .when(variant == 1,
              F.concat(F.lit("HTTPS://"), F.upper(host), F.lit(":443"),
                       stem))
        .when(variant == 2,
              F.concat(F.lit("https://"), host, stem,
                       F.lit("?utm_source=feed&utm_campaign=x")))
        .when(variant == 3,
              F.concat(F.lit("https://"), host, stem, F.lit("/#section2")))
        .otherwise(
            F.concat(F.lit("https://"), host, stem, F.lit("?page=2")))
    )


def url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup over a deterministically-messy URL fixture:
    each document's URL is one of five variants of its group's base
    page (group = doc_id - doc_id % 5, host from the shared pool) —
    clean, SCHEME/HOST-cased + explicit :443, utm-tracking params,
    trailing-slash + fragment, and a KEPT pagination param. Variants
    0-3 must collapse to one canonical URL; variant 4 must stay
    distinct (?page=2 survives canonicalization). Output: one row per
    canonical URL with the min doc_id as survivor and the variant
    count — the standard frontier-dedup shape, entirely JVM
    expressions, one groupBy shuffle on the canonical key."""
    docs = load(spark, sf, "documents").select("doc_id")
    canon = docs.select("doc_id",
                        _canonical_url(_messy_url()).alias("url"))
    return (canon.groupBy("url")
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count("*").alias("n_variants"))
            .select("url", "canonical_doc_id", "n_variants"))


# The messy-URL synthesis + canonicalization CTE chain, shared by
# URL_CANONICAL_SQL and the corpus-emit oracle's frontier stage 0.
_URL_CANON_CTES = f"""messy AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'https://' || host || stem
           WHEN 1 THEN 'HTTPS://' || upper(host) || ':443' || stem
           WHEN 2 THEN 'https://' || host || stem
                       || '?utm_source=feed&utm_campaign=x'
           WHEN 3 THEN 'https://' || host || stem || '/#section2'
           ELSE 'https://' || host || stem || '?page=2'
         END AS url
  FROM (
    SELECT doc_id,
           ({_POOL_SQL})[CAST((doc_id - doc_id % 5) % 16 + 1 AS INT)]
             AS host,
           '/doc/' || CAST(doc_id - doc_id % 5 AS VARCHAR) AS stem
    FROM documents)
),
canon AS (
  SELECT doc_id,
    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
    || CASE lower(regexp_extract(url, '^([A-Za-z]+)://', 1))
         WHEN 'https' THEN regexp_replace(
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
           ':443$', '')
         WHEN 'http' THEN regexp_replace(
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
           ':80$', '')
         ELSE lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
       END
    || CASE WHEN regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(url, '^[A-Za-z]+://[^/?#]+', ''),
              '#.*$', ''), '\\?.*$', ''), '/+$', '') = ''
            THEN '/'
            ELSE regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(url, '^[A-Za-z]+://[^/?#]+', ''),
              '#.*$', ''), '\\?.*$', ''), '/+$', '')
       END
    || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
            ELSE '' END AS url
  FROM (
    SELECT doc_id, url,
           list_sort(list_filter(
             string_split(
               CASE WHEN contains(regexp_replace(url, '#.*$', ''), '?')
                    THEN regexp_replace(
                      regexp_replace(url, '#.*$', ''), '^[^?]*\\?', '')
                    ELSE '' END, '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^utm_[a-z]+=')))
           AS kept
    FROM messy) q
)"""

URL_CANONICAL_SQL = f"""
WITH {_URL_CANON_CTES}
SELECT url, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_variants
FROM canon GROUP BY url
"""


# ------------------------------------------- end-to-end corpus emission


def training_corpus_emit(spark: SparkSession, sf: str) -> DataFrame:
    """The END-TO-END training-corpus assembly (r11 verdict task 8) —
    the registry's component filters composed in the order a public
    pretraining pipeline runs them, one DataFrame chain:

    0. crawl-frontier URL dedup (r12 verdict task 8): canonical-URL
       collapse of the messy-URL fixture (url_canonical_dedup's
       operators), keep min doc_id per canonical URL — frontier dedup
       runs BEFORE content dedup, the production ordering;
    1. language gate: marker-lexicon argmax == 'en' (doc_langid's
       chain);
    2. quality gate: heuristic quality >= 0.9 (doc_quality's scorer);
    3. substring span-clean ACROSS the surviving corpus
       (operators/dedup.remove_duplicate_spans, width 40 — spans are
       recomputed among survivors, matching a staged pipeline where
       dedup runs after filtering);
    4. exact dedup of the CLEANED text (keep-min doc_id per sha256 —
       docs that clean down to identical bytes collapse);
    5. eTLD+1 domain-balanced quota (domain_balanced_sample's
       machinery, <= 20/domain).

    Output is the corpus MANIFEST: (doc_id, domain, clean_md5,
    clean_chars, removed_chars, quality, sample_rank) — the cleaned
    text itself is hash-pinned via md5 so the oracle verifies exact
    reconstructed bytes end to end. Scale: every stage is the already-
    audited plan (broadcast marker join, two span shuffles + doc-keyed
    stitch join, digest groupBy, WindowGroupLimit quota) — composition
    adds joins on (doc_id) only, no new shuffle shapes."""
    return emit_training_corpus(spark, sf)


def emit_training_corpus(spark: SparkSession, sf: str, *,
                         lang: str = "en", min_quality: float = 0.9,
                         quota: int = _DOMAIN_QUOTA,
                         with_text: bool = False,
                         docs: DataFrame | None = None) -> DataFrame:
    """Parameterized engine for :func:`training_corpus_emit` (the
    registry query pins the defaults against the composed oracle) and
    for the ``corpus`` CLI command, which lands the emitted corpus as
    a lake artifact. ``with_text=True`` carries ``clean_text`` through
    for the landing write; the manifest columns are identical either
    way. ``docs`` overrides the default plain-parquet table read —
    cmd_corpus passes its already-resolved source (plain OR
    snapshot-versioned lake) so the digest it records and the corpus
    it emits provably come from the same rows."""
    from ..functions.text import quality_score
    from ..operators import dedup as dedup_ops
    from .pipeline import lang_argmax

    if docs is None:
        docs = load(spark, sf, "documents")
    docs = docs.select("doc_id", "text")

    # 0. crawl-frontier URL dedup (r12 verdict task 8 — the production
    # ordering: canonical-URL dedup runs on the frontier BEFORE any
    # content is tokenized, so re-crawled tracking-param/case/fragment
    # variants never reach the content stages at all). Same operators
    # as url_canonical_dedup (shared _messy_url fixture +
    # _canonical_url): keep min doc_id per canonical URL. One narrow
    # (doc_id, url) groupBy + a doc_id join — at 100 TB this prunes
    # the corpus scan-side, it doesn't add a text shuffle.
    canon = docs.select("doc_id",
                        _canonical_url(_messy_url()).alias("url"))
    frontier = (canon.groupBy("url")
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id"))
    docs = docs.join(frontier, "doc_id")

    # 1. language gate — the zero-shuffle array-expression argmax
    # (pipeline.lang_argmax): at 512x the old explode -> broadcast-join
    # chain materialized ~256M token rows and dominated this query's
    # cost; as a codegen'd filter it rides the corpus scan
    # token array materialized once — lang_argmax references toks 10
    # times; an inline split(lower(text)) would be re-evaluated per
    # reference (r17, same fix as doc_langid/training_set_select)
    best = lang_argmax(F.col("_toks"))
    lang_ids = (docs.select("doc_id",
                            tokens(F.col("text")).alias("_toks"))
                .select("doc_id", best.alias("b"))
                .filter((F.col("b.n") > 0) & (F.col("b.lang") == lang))
                .select("doc_id"))

    # 2. quality gate (scored on the RAW text, like doc_quality).
    # Persisted: four downstream consumers read base (the span-removal
    # window marks, its stitch join, the tail-segment join, the quality
    # re-join) and Spark cannot dedup common subtrees — uncached, the
    # whole langid+quality chain re-runs per consumer (plan showed 6
    # documents scans). At 100 TB this frame lands bronze once instead
    # (the filtered corpus IS a pipeline artifact); in-session,
    # MEMORY_AND_DISK caps the recompute the same way. An explicit
    # doc_id exchange cannot replace it: Spark drops it as redundant
    # after the doc_id join, and the chain re-runs per consumer.
    from pyspark.storagelevel import StorageLevel

    base = (docs.join(lang_ids, "doc_id")
            .withColumn("quality",
                        quality_score(F.col("text")).cast("double"))
            .filter(F.col("quality") >= min_quality)
            .persist(StorageLevel.MEMORY_AND_DISK))

    # 3. span-clean among survivors
    cleaned = dedup_ops.remove_duplicate_spans(
        base.select("doc_id", "text"), "text", "doc_id", width=40)
    manifest = cleaned.join(base.select("doc_id", "quality"), "doc_id")

    # 4. exact dedup of the cleaned text, keep-min doc_id
    wd = Window.partitionBy("content_sha").orderBy("doc_id")
    survivors = (manifest
                 .withColumn("content_sha", F.sha2("clean_text", 256))
                 .withColumn("rn", F.row_number().over(wd))
                 .filter(F.col("rn") == 1))

    # 5. domain-balanced quota (same synthesis as domain_balanced_sample)
    pool = F.array(*[F.lit(h) for h in _HOST_POOL])
    url = F.concat(F.lit("https://"),
                   F.element_at(pool, (F.col("doc_id") % 16 + 1)
                                .cast("int")),
                   F.lit("/doc/"), F.col("doc_id"))
    host = F.regexp_extract(url, r"^https://([^/]+)/", 1)
    staged = survivors.withColumn("domain", _etld1(host))
    wq = Window.partitionBy("domain").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    extra = ["clean_text"] if with_text else []
    return (staged.withColumn("sample_rank", F.row_number().over(wq))
            .filter(F.col("sample_rank") <= quota)
            .select("doc_id", "domain",
                    F.md5("clean_text").alias("clean_md5"),
                    F.length("clean_text").cast("bigint")
                    .alias("clean_chars"),
                    "removed_chars", "quality",
                    F.col("sample_rank").cast("long")
                    .alias("sample_rank"), *extra))


def _corpus_emit_sql() -> str:
    """Oracle for :func:`training_corpus_emit`, composed from the SAME
    proven CTE chains its component queries use (LANGID_SQL,
    QUALITY_EXPR, DEDUP_SPAN_REMOVAL_SQL's span/segs/stitch,
    DOMAIN_SAMPLE_SQL's eTLD+1 quota) — re-rooted on the filtered
    survivor set instead of raw documents."""
    from .pipeline import _MARKER_VALUES, QUALITY_EXPR

    return f"""
WITH {_URL_CANON_CTES},
frontier AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY url),
docs0 AS (SELECT d.* FROM documents d JOIN frontier USING (doc_id)),
markers(cand_lang, marker) AS (VALUES {_MARKER_VALUES}),
ltoks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
          FROM docs0),
lhits AS (
  SELECT doc_id, cand_lang, COUNT(*) AS n_hits
  FROM ltoks JOIN markers ON tok = marker
  GROUP BY doc_id, cand_lang
),
lang AS (
  SELECT doc_id FROM (
    SELECT doc_id, cand_lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n_hits DESC, cand_lang) AS rn
    FROM lhits) WHERE rn = 1 AND cand_lang = 'en'
),
base AS (
  SELECT d.doc_id, d.text, {sql_round(QUALITY_EXPR, 6)} AS quality
  FROM docs0 d JOIN lang USING (doc_id)
  WHERE {sql_round(QUALITY_EXPR, 6)} >= 0.9
),
pos AS (
  SELECT doc_id, u.p AS pos, substr(text, u.p, 40) AS span
  FROM base, unnest(generate_series(1, length(text) - 39)) AS u(p)
  WHERE length(text) >= 40
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           MIN(doc_id) OVER (PARTITION BY span)
             <> MAX(doc_id) OVER (PARTITION BY span) AS is_dup
    FROM pos) WHERE is_dup
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - prev > 40 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dup)
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS span_start, MAX(pos) + 39 AS span_end
  FROM isl GROUP BY doc_id, island
),
segs AS (
  SELECT s.doc_id, s.span_start AS ord,
         substr(d.text, prev_end + 1,
                GREATEST(0, s.span_start - prev_end - 1)) AS seg
  FROM (SELECT *, lag(span_end, 1, 0) OVER (
          PARTITION BY doc_id ORDER BY span_start) AS prev_end
        FROM spans) s JOIN base d USING (doc_id)
  UNION ALL
  SELECT m.doc_id, 2147483647 AS ord, substr(d.text, m.max_end + 1) AS seg
  FROM (SELECT doc_id, MAX(span_end) AS max_end
        FROM spans GROUP BY doc_id) m JOIN base d USING (doc_id)
),
stitched AS (
  SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS clean_text
  FROM segs GROUP BY doc_id
),
cleanfull AS (
  SELECT b.doc_id, b.quality,
         coalesce(c.clean_text, b.text) AS clean_text,
         CAST(length(b.text) - length(coalesce(c.clean_text, b.text))
              AS BIGINT) AS removed_chars
  FROM base b LEFT JOIN stitched c USING (doc_id)
),
survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sha256(clean_text)
                                 ORDER BY doc_id) AS rn
    FROM cleanfull) WHERE rn = 1
),
doms AS (
  SELECT s.*,
         CASE WHEN parts[-2] || '.' || parts[-1] IN ({_SUFFIX_SQL})
                   AND len(parts) >= 3
              THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
              ELSE parts[-2] || '.' || parts[-1] END AS domain
  FROM (SELECT *,
               string_split(regexp_extract(
                 'https://' || ({_POOL_SQL})[CAST(doc_id % 16 + 1 AS INT)]
                 || '/doc/' || doc_id, '^https://([^/]+)/', 1),
                 '.') AS parts
        FROM survivors) s
)
SELECT doc_id, domain, md5(clean_text) AS clean_md5,
       CAST(length(clean_text) AS BIGINT) AS clean_chars,
       removed_chars, quality,
       CAST(sample_rank AS BIGINT) AS sample_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY domain
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM doms)
WHERE sample_rank <= {_DOMAIN_QUOTA}
"""


QUERIES = {
    "doc_repetition": (doc_repetition, REPETITION_SQL),
    "training_corpus_emit": (training_corpus_emit, _corpus_emit_sql()),
    "url_canonical_dedup": (url_canonical_dedup, URL_CANONICAL_SQL),
    "doc_pii_scrub": (doc_pii_scrub, PII_SQL),
    "decontaminate_docs": (decontaminate_docs, DECONTAMINATE_SQL),
    "lang_balanced_sample": (lang_balanced_sample, LANG_SAMPLE_SQL),
    "dsir_select": (dsir_select, DSIR_SQL),
    "doc_ngram_novelty": (doc_ngram_novelty, NGRAM_NOVELTY_SQL),
    "unimax_mixture_weights": (unimax_mixture_weights, UNIMAX_SQL),
    "domain_balanced_sample": (domain_balanced_sample, DOMAIN_SAMPLE_SQL),
    "html_extract_text": (html_extract_text, HTML_EXTRACT_SQL),
    "temperature_mix_sample": (temperature_mix_sample, MIX_SQL),
    "weighted_sample_docs": (weighted_sample_docs, WEIGHTED_SAMPLE_SQL),
    "pack_sequences_docs": (pack_sequences_docs, PACK_SQL),
    "training_shard_stats": (training_shard_stats, SHARD_STATS_SQL),
    "train_split_stats": (train_split_stats, SPLIT_STATS_SQL),
}
