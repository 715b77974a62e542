"""Text analysis operators for large-scale training-data pipelines.

Beyond the reference surface (SURVEY.md §2.D): language-ID, quality
scoring, token counting, document fingerprinting — all expressed with
built-in ``pyspark.sql.functions`` only (JVM-side, whole-stage codegen; no
Python in the per-row path), over the ``documents`` table.

Every operator has a DuckDB oracle twin registered alongside; formulas are
written with engine-portable primitives (md5, replace-based substring
counting, same-order arithmetic, portable ``trunc6``) so the two engines
produce identical values.

Scale: all operators are embarrassingly partition-parallel (per-row
``select``; no shuffle, no driver materialization) — they stream through
100 TB as fast as the scan goes.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve against globals
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from training_data_ops.functions.rounding import duck_trunc6, trunc6
from training_data_ops.operators.scale import widen
from flink_http_full_cache_connector_spark.plans.registry import load_table
from training_data_ops.registry import register
from training_data_ops.functions.tokenize import TOKEN_DELIM_RE


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents widened to cluster parallelism — the md5/replace-chain
    per-row work is CPU-bound and a single-file input would pin one core."""
    return widen(load_table(spark, sf_dir, "documents"))

# ---------------------------------------------------------------------------
# column-level building blocks
# ---------------------------------------------------------------------------

def token_count(text: Column) -> Column:
    """Whitespace token count (regex split, trim first)."""
    return F.size(F.split(F.trim(text), TOKEN_DELIM_RE))


#: BPE-ish tokenizer regex: letter runs, digit runs, single punctuation —
#: the class-based pattern evaluates identically under Java regex (Spark)
#: and RE2 (DuckDB)
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Approximate subword token count via the BPE-ish regex."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def occurrences(text: Column, needle: str) -> Column:
    """Portable substring-occurrence count via the replace trick
    (identical semantics in Spark and DuckDB: no regex involved)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _padded(text: Column) -> Column:
    # pad so word-boundary markers match at string edges
    return F.concat(F.lit(" "), F.trim(text), F.lit(" "))


#: language marker words for the n-gram/stopword heuristic (word-boundary
#: padded, counted with the replace trick on both engines)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " in "],
    "es": [" el ", " la ", " de ", " los ", " que "],
    "de": [" der ", " die ", " und ", " das ", " ist "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "zh": [" de ", " shi ", " le ", " zai ", " you "],
}

#: deterministic priority order for arg-max ties (both engines use the same
#: CASE ladder, so ties resolve identically)
LANG_PRIORITY = ["en", "es", "de", "fr", "zh"]

STOPWORDS = [" the ", " a ", " and ", " of ", " to "]
PUNCT = [".", ",", "!", "?", ";"]

# ---------------------------------------------------------------------------
# trigram language ID (the upgrade over the marker-word ladder)
# ---------------------------------------------------------------------------

#: Approximate per-mille character-trigram frequencies from public corpus
#: statistics (Wikipedia-scale letter/trigram tables).  Only the RATIOS
#: matter: profiles are L2-normalized and the classifier is a cosine
#: argmax, so small inaccuracies in absolute values don't move decisions.
TRIGRAM_PROFILES: dict[str, dict[str, float]] = {
    "en": {
        " th": 15.0, "the": 12.0, "he ": 11.0, " an": 7.0, "nd ": 6.0,
        "and": 5.5, "ing": 7.0, "ng ": 6.0, " of": 5.0, "of ": 5.0,
        " to": 4.5, "to ": 4.5, "ed ": 5.0, " in": 5.5, "in ": 4.5,
        "ion": 4.0, "ent": 3.5, "er ": 4.5, " co": 3.5, "at ": 4.0,
    },
    "es": {
        " de": 12.0, "de ": 13.0, " la": 8.0, "la ": 7.5, "el ": 6.0,
        " el": 5.5, "os ": 7.0, "as ": 6.5, "es ": 7.5, " es": 5.0,
        "en ": 6.5, " en": 6.0, " co": 5.0, "ión": 4.5, "ció": 3.5,
        " qu": 4.5, "que": 4.5, "ue ": 4.5, "ar ": 4.0, "ado": 3.5,
    },
    "fr": {
        " de": 14.0, "de ": 13.0, " le": 8.5, "le ": 7.5, "es ": 9.0,
        " la": 6.0, "nt ": 6.5, "ent": 6.0, "ion": 4.5, " co": 4.5,
        "tio": 3.5, " pa": 3.5, "re ": 5.5, " re": 4.0, "eur": 3.0,
        " qu": 3.5, "que": 3.5, "ue ": 4.0, "et ": 4.5, "ait": 3.5,
    },
    "de": {
        "er ": 12.0, " de": 10.5, "der": 8.5, "en ": 13.0, " di": 7.0,
        "die": 6.5, "ie ": 7.0, "ch ": 7.5, "sch": 4.5, "ein": 5.0,
        " ei": 5.0, "ung": 4.5, "ng ": 5.0, "ich": 5.5, " un": 5.0,
        "und": 4.5, "nd ": 5.5, "ten": 4.5, "cht": 4.0, "ine": 4.0,
    },
}

#: priority order for trigram argmax ties ("zh" is decided by CJK
#: codepoints, not trigrams — see lang_id_trigram)
TRIGRAM_PRIORITY = ["en", "es", "de", "fr"]

#: CJK unified ideographs — one hit anywhere says "zh" more reliably than
#: any latin trigram profile could.  \x{...} escapes parse identically in
#: Java regex (Spark) and RE2 (DuckDB).
CJK_REGEX = r"[\x{4e00}-\x{9fff}]"


def _trigram_weights() -> dict[str, dict[str, int]]:
    """L2-normalized profiles in integer micro-units (ŵ·1e6 rounded).

    Integer weights on purpose: per-language scores become LONG sums, which
    are associative — aggregation order (Spark partial aggs, DuckDB hash
    groups) can never flip an argmax by a float ulp, so the classifier is
    repartition-invariant and bit-identical cross-engine.
    """
    import math

    out: dict[str, dict[str, int]] = {}
    for lang, prof in TRIGRAM_PROFILES.items():
        n = math.sqrt(sum(w * w for w in prof.values()))
        out[lang] = {t: int(round(w / n * 1_000_000)) for t, w in prof.items()}
    return out


TRIGRAM_WEIGHTS = _trigram_weights()


def trigram_scores(text: Column) -> dict[str, Column]:
    """Per-language cosine scores: Σ ŵ(trigram)·count(trigram in text),
    in integer micro-units (see :func:`_trigram_weights`).

    The document-side norm is constant across languages, so the argmax over
    these dot products IS the cosine argmax — no need to count every
    trigram of the document.  Counting uses the replace trick (no regex) on
    the padded lowercase text; everything stays JVM-side.  (Column-expression
    form for composites/tests; the registered query uses the explode+join
    formulation, which compiles ~10x faster and shuffles one row per doc.)
    """
    low = F.concat(F.lit(" "), F.lower(F.trim(text)), F.lit(" "))
    return {
        lang: sum(occurrences(low, t) * F.lit(w) for t, w in prof.items())
        for lang, prof in TRIGRAM_WEIGHTS.items()
    }


def lang_id_trigram(text: Column) -> Column:
    """Character-trigram cosine language ID with CJK-codepoint zh detection.

    Upgrade over :func:`lang_id` (the marker-word ladder): marker words
    only fire on a handful of function words, so marker-free text (e.g.
    technical prose) falls to 'und'; trigram profiles see every character
    and separate en/es/fr/de on ordinary sentences.  Deterministic: fixed
    profile literals, fixed priority ladder for ties.
    """
    scores = trigram_scores(text)
    max_score = F.greatest(*[scores[o] for o in TRIGRAM_PRIORITY])
    result = F.lit("und")
    for lang in reversed(TRIGRAM_PRIORITY):
        result = F.when(scores[lang] == max_score, F.lit(lang)).otherwise(result)
    result = F.when(max_score <= 0.0, F.lit("und")).otherwise(result)
    return F.when(
        F.regexp_count(text, F.lit(CJK_REGEX)) > 0, F.lit("zh")
    ).otherwise(result)


def lang_scores(text: Column) -> dict[str, Column]:
    padded = _padded(text)
    return {
        lang: sum(occurrences(padded, m) for m in markers).cast("long")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Arg-max language with deterministic tie-break; 'und' when no marker hits."""
    scores = lang_scores(text)
    total = sum(scores.values())
    max_score = F.greatest(*[scores[o] for o in LANG_PRIORITY])
    # CASE ladder in priority order: first lang hitting the max wins ties —
    # built inside-out, so the highest-priority WHEN ends up outermost,
    # matching the oracle's forward CASE ladder.
    result = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        result = F.when((total > 0) & (scores[lang] == max_score), F.lit(lang)).otherwise(
            result
        )
    return result


def quality_components(text: Column) -> dict[str, Column]:
    ntok = token_count(text)
    nchars = F.length(text)
    nonspace = F.length(F.replace(text, F.lit(" "), F.lit("")))
    padded = _padded(text)
    stop_hits = sum(occurrences(padded, s) for s in STOPWORDS)
    punct_hits = sum(occurrences(text, p) for p in PUNCT)
    return {
        "n_tokens": ntok.cast("long"),
        "avg_token_len": trunc6(nonspace / ntok),
        "stopword_ratio": trunc6(stop_hits / ntok),
        "punct_ratio": trunc6(punct_hits / nchars),
    }


def quality_score(text: Column) -> Column:
    """Deterministic heuristic in [0,1]: length sweet-spot + stopword signal
    + punctuation sanity.  Same-order arithmetic on both engines."""
    c = quality_components(text)
    ntok = c["n_tokens"]
    length_term = F.least(ntok / F.lit(64.0), F.lit(1.0))
    stop_term = F.least(c["stopword_ratio"] * F.lit(4.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(c["punct_ratio"] * F.lit(10.0), F.lit(1.0))
    return trunc6(
        length_term * F.lit(0.5) + stop_term * F.lit(0.3) + punct_term * F.lit(0.2)
    )


def md5_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text."""
    normalized = F.lower(F.regexp_replace(F.trim(text), TOKEN_DELIM_RE, " "))
    return F.md5(normalized)


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over token hashes (content-defined
    fingerprint; stable under trailing-whitespace noise).

    ``h = fold(tokens, h*131 + tokenhash mod p)`` with init = first token
    hash — matching DuckDB's ``list_reduce`` (first element as init).  All
    intermediates < 2^63 so no overflow on either engine.
    """
    p = 2147483647  # 2^31 - 1
    tok_hashes = F.transform(
        F.split(F.trim(text), TOKEN_DELIM_RE),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % p,
    )
    return F.aggregate(
        F.slice(tok_hashes, 2, F.size(tok_hashes) - 1),
        F.element_at(tok_hashes, 1),
        lambda acc, x: (acc * 131 + x) % p,
    )


# ---------------------------------------------------------------------------
# registered queries (oracle twins in DuckDB dialect)
# ---------------------------------------------------------------------------

_DUCK_TOKENS = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"


@register(
    "text_token_count",
    rf"""
    SELECT doc_id, n_chars, len({_DUCK_TOKENS})::bigint AS n_tokens,
           len(regexp_extract_all(text, '{BPE_PATTERN}'))::bigint AS n_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish regex subword count "
    "(scan-only, no shuffle).",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        "n_chars",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def _duck_occ(padded: str, needle: str) -> str:
    n = len(needle)
    return f"((length({padded}) - length(replace({padded}, '{needle}', ''))) // {n})"


def duck_lang_expr() -> str:
    """DuckDB expression twin of :func:`lang_id` (reusable in composites)."""
    padded = "(' ' || trim(text) || ' ')"
    scores = {
        lang: "(" + " + ".join(_duck_occ(padded, m) for m in markers) + ")"
        for lang, markers in LANG_MARKERS.items()
    }
    total = "(" + " + ".join(scores.values()) + ")"
    all_scores = ", ".join(scores.values())
    ladder = " ".join(
        f"WHEN {scores[lang]} = greatest({all_scores}) THEN '{lang}'"
        for lang in LANG_PRIORITY
    )
    return f"(CASE WHEN {total} > 0 THEN (CASE {ladder} END) ELSE 'und' END)"


def duck_trigram_lang_sql() -> str:
    """DuckDB twin of the registered trigram classifier: enumerate the
    document's character trigrams, join the profile VALUES table, sum
    integer weights per language — structurally the same dataflow the Spark
    side runs, so counting semantics (overlapping occurrences) and integer
    score arithmetic agree exactly."""
    prof_rows = ", ".join(
        f"('{t}', '{lang}', {w})"
        for lang, prof in TRIGRAM_WEIGHTS.items()
        for t, w in prof.items()
    )
    sum_cols = ", ".join(
        f"sum(CASE WHEN plang = '{lang}' THEN w ELSE 0 END) AS s_{lang}"
        for lang in TRIGRAM_PRIORITY
    )
    coalesced = ", ".join(
        f"coalesce(h.s_{lang}, 0) AS s_{lang}" for lang in TRIGRAM_PRIORITY
    )
    all_scores = ", ".join(f"s_{lang}" for lang in TRIGRAM_PRIORITY)
    ladder = " ".join(
        f"WHEN s_{lang} = greatest({all_scores}) THEN '{lang}'"
        for lang in TRIGRAM_PRIORITY
    )
    return f"""
    WITH base AS (
        SELECT doc_id, lang AS lang_label,
               ' ' || lower(trim(text)) || ' ' AS low,
               length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
                   AS cjk
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(low) - 1),
                                     i -> substr(low, i, 3))) AS t
        FROM base WHERE length(low) >= 3
    ),
    prof(t, plang, w) AS (VALUES {prof_rows}),
    hits AS (
        SELECT doc_id, {sum_cols}
        FROM tri JOIN prof USING (t) GROUP BY doc_id
    ),
    scored AS (
        SELECT b.doc_id, b.lang_label, b.cjk, {coalesced}
        FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id
    )
    SELECT doc_id, lang_label,
           CASE WHEN cjk > 0 THEN 'zh'
                WHEN greatest({all_scores}) <= 0 THEN 'und'
                ELSE (CASE {ladder} END) END AS lang_pred
    FROM scored
    """


@register(
    "text_lang_id",
    duck_trigram_lang_sql(),
    doc="Language-ID: character-trigram cosine profiles (public-corpus "
    "frequency literals, L2-normalized to integer micro-units) + "
    "CJK-codepoint zh detection — upgraded from the r1 marker-word ladder, "
    "which returned 'und' on any marker-free text. Dataflow form: explode "
    "the doc's trigrams, broadcast-join the 80-row profile table, "
    "conditional-sum per language — explode keeps a doc's trigrams in one "
    "partition, so partial aggregation collapses to ONE row per doc before "
    "the doc_id shuffle; integer weights make the sums associative "
    "(repartition-invariant, no float fold-order hazard). Compiles ~10x "
    "faster than the 80-replace-chain expression form.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.concat(F.lit(" "), F.lower(F.trim(F.col("text"))), F.lit(" ")).alias("low"),
        F.regexp_count(F.col("text"), F.lit(CJK_REGEX)).alias("cjk"),
    )
    tri = base.where(F.length("low") >= 3).select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(low) - 2), i -> substring(low, i, 3))")
        ).alias("t"),
    )
    prof = docs.sparkSession.createDataFrame(
        [
            (t, lang, w)
            for lang, prof_ in TRIGRAM_WEIGHTS.items()
            for t, w in prof_.items()
        ],
        "t string, plang string, w long",
    )
    hits = (
        tri.join(F.broadcast(prof), "t")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("plang") == lang, F.col("w")).otherwise(0)).alias(
                    f"s_{lang}"
                )
                for lang in TRIGRAM_PRIORITY
            ]
        )
    )
    scored = base.join(hits, "doc_id", "left").select(
        "doc_id",
        "lang_label",
        "cjk",
        *[
            F.coalesce(F.col(f"s_{lang}"), F.lit(0)).alias(f"s_{lang}")
            for lang in TRIGRAM_PRIORITY
        ],
    )
    max_score = F.greatest(*[F.col(f"s_{lang}") for lang in TRIGRAM_PRIORITY])
    ladder = F.lit("und")
    for lang in reversed(TRIGRAM_PRIORITY):
        ladder = F.when(F.col(f"s_{lang}") == max_score, F.lit(lang)).otherwise(ladder)
    pred = (
        F.when(F.col("cjk") > 0, F.lit("zh"))
        .when(max_score <= 0, F.lit("und"))
        .otherwise(ladder)
    )
    return scored.select("doc_id", "lang_label", pred.alias("lang_pred"))


def duck_quality_expr() -> str:
    """DuckDB expression twin of :func:`quality_score` (reusable)."""
    padded = "(' ' || trim(text) || ' ')"
    ntok = rf"len({_DUCK_TOKENS})"
    stop = "(" + " + ".join(_duck_occ(padded, s) for s in STOPWORDS) + ")"
    punct = "(" + " + ".join(_duck_occ("text", p) for p in PUNCT) + ")"
    return duck_trunc6(
        f"least({ntok} / 64.0, 1.0) * 0.5"
        f" + least({duck_trunc6(f'{stop} / {ntok}')} * 4.0, 1.0) * 0.3"
        f" + (1.0 - least({duck_trunc6(f'{punct} / length(text)')} * 10.0, 1.0)) * 0.2"
    )


def _duck_quality_sql() -> str:
    padded = "(' ' || trim(text) || ' ')"
    ntok = rf"len({_DUCK_TOKENS})"
    nonspace = "length(replace(text, ' ', ''))"
    stop = "(" + " + ".join(_duck_occ(padded, s) for s in STOPWORDS) + ")"
    punct = "(" + " + ".join(_duck_occ("text", p) for p in PUNCT) + ")"
    return f"""
    SELECT doc_id,
           {ntok}::bigint AS n_tokens,
           {duck_trunc6(f'{nonspace} / {ntok}')} AS avg_token_len,
           {duck_trunc6(f'{stop} / {ntok}')} AS stopword_ratio,
           {duck_trunc6(f'{punct} / length(text)')} AS punct_ratio,
           {duck_quality_expr()} AS quality
    FROM documents
    """


@register(
    "text_quality_score",
    _duck_quality_sql(),
    doc="Quality scoring: length/stopword/punctuation heuristics, one scan-side select.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    c = quality_components(text)
    return docs.select(
        "doc_id",
        c["n_tokens"].alias("n_tokens"),
        c["avg_token_len"].alias("avg_token_len"),
        c["stopword_ratio"].alias("stopword_ratio"),
        c["punct_ratio"].alias("punct_ratio"),
        quality_score(text).alias("quality"),
    )


@register(
    "text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(nfc_normalize(text), '[ \t\n\r\f\v]+', ' ', 'g'))
               AS normalized
    FROM documents
    """,
    doc="Unicode NFC + whitespace-collapse normalization via an Arrow-batched "
    "pandas UDF (the canonical pre-tokenization cleanup step); oracle uses "
    "DuckDB's utf8proc nfc_normalize — verified byte-identical.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # explicit ASCII whitespace class: Python re and RE2 agree on it, unlike
    # \s (Python matches unicode spaces, RE2 does not)
    ws = re.compile(r"[ \t\n\r\f\v]+")

    @pandas_udf("string")
    def nfc_clean(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: ws.sub(" ", unicodedata.normalize("NFC", t)).strip()
            if t is not None
            else None
        )

    docs = _docs(spark, sf_dir)
    return docs.select("doc_id", nfc_clean(F.col("text")).alias("normalized"))


@register(
    "text_vocabulary",
    rf"""
    WITH toks AS (SELECT unnest({_DUCK_TOKENS}) AS tok FROM documents)
    SELECT count(DISTINCT tok)::bigint AS vocab_size,
           count(*)::bigint AS total_tokens,
           min(tok) AS first_token, max(tok) AS last_token
    FROM toks
    """,
    doc="Corpus vocabulary stats: DISTINCT aggregation over exploded tokens — "
    "partial counts combine map-side; the distinct shuffle keys on the "
    "(uniform) token itself.",
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)).alias("tok")
    )
    return toks.agg(
        F.countDistinct("tok").alias("vocab_size"),
        F.count("*").alias("total_tokens"),
        F.min("tok").alias("first_token"),
        F.max("tok").alias("last_token"),
    )


@register(
    "text_fingerprint",
    rf"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp_md5,
           list_reduce(
             list_transform({_DUCK_TOKENS},
               t -> ('0x' || substr(md5(t), 1, 8))::bigint % 2147483647),
             (acc, x) -> (acc * 131 + x) % 2147483647
           ) AS fp_rolling
    FROM documents
    """,
    doc="Document fingerprinting: md5 of normalized text + polynomial rolling hash over token hashes.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        md5_fingerprint(F.col("text")).alias("fp_md5"),
        rolling_hash(F.col("text")).alias("fp_rolling"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# engine-portable regexes: plain character classes + bounded quantifiers
# parse identically under Java regex (Spark) and RE2 (DuckDB)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def scrub_pii(text: Column) -> Column:
    """Redact emails then phone numbers (order matters: email local parts
    can contain digit runs a phone pattern would otherwise claim)."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)),
    )


@register(
    "text_pii_scrub",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}'))::int AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}'))::int AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PHONE_RE}', '<PHONE>', 'g')) AS scrub_fp
    FROM documents
    """,
    doc="PII scrubbing: redact emails/phones with portable regexes, count "
    "matches; scrubbed text compared via md5. Map-side only (scan-speed); "
    "redaction semantics pinned by crafted-text unit tests.",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n_em, n_ph = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        n_em.alias("n_emails"),
        n_ph.alias("n_phones"),
        F.md5(scrub_pii(F.col("text"))).alias("scrub_fp"),
    )


# ---------------------------------------------------------------------------
# corpus-wide n-gram statistics
# ---------------------------------------------------------------------------

TOP_BIGRAMS = 20


@register(
    "text_top_bigrams",
    f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS tk FROM documents),
    grams AS (
        SELECT unnest(list_transform(range(1, len(tk)),
                      i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM toks
    )
    SELECT bigram, count(*)::bigint AS cnt
    FROM grams GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT {TOP_BIGRAMS}
    """,
    doc=f"Corpus-wide top-{TOP_BIGRAMS} bigrams: explode adjacent token "
    "pairs, partial-agg count, global exact top-k (TakeOrderedAndProject — "
    "k rows per partition reach the driver, never the full histogram).",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)
    grams = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ),
            )
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(TOP_BIGRAMS)
    )


# ---------------------------------------------------------------------------
# corpus governance report
# ---------------------------------------------------------------------------

@register(
    "corpus_report",
    f"""
    SELECT source, lang,
           count(*)::bigint AS docs,
           sum(n_chars)::bigint AS total_chars,
           sum(len({_DUCK_TOKENS}))::bigint AS total_tokens,
           min({duck_quality_expr()}) AS min_quality,
           max({duck_quality_expr()}) AS max_quality,
           sum(CASE WHEN {duck_lang_expr()} = lang THEN 1 ELSE 0 END)::bigint
               AS langid_agree
    FROM documents
    GROUP BY source, lang
    """,
    doc="Corpus governance report: per (source, declared-lang) volume, "
    "token totals, quality envelope, and lang-ID agreement with the "
    "declared label — one scan, one low-cardinality partial-agg shuffle; "
    "integer sums only (exact).",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    text = F.col("text")
    return (
        docs.select(
            "source",
            "lang",
            "n_chars",
            token_count(text).alias("ntok"),
            quality_score(text).alias("q"),
            (lang_id(text) == F.col("lang")).cast("long").alias("agree"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("ntok").alias("total_tokens"),
            F.min("q").alias("min_quality"),
            F.max("q").alias("max_quality"),
            F.sum("agree").alias("langid_agree"),
        )
    )


CHUNK_TOKENS = 16
CHUNK_STRIDE = 12


@register(
    "text_chunks_udtf",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '') AS ts
        FROM documents
    ),
    starts AS (
        SELECT doc_id, ts,
               unnest(range(0, greatest(len(ts), 1), {CHUNK_STRIDE})) AS start
        FROM toks
    )
    SELECT doc_id, (start // {CHUNK_STRIDE})::int AS chunk_idx,
           array_to_string(ts[start + 1 : start + {CHUNK_TOKENS}], ' ')
               AS chunk_text,
           least({CHUNK_TOKENS}, len(ts) - start)::int AS n_tokens
    FROM starts WHERE len(ts) - start > 0
    """,
    doc=f"Python UDTF surface (Spark 4 user-defined TABLE function, "
    "Arrow-batched via useArrow=True): "
    f"sliding-window document chunking ({CHUNK_TOKENS} tokens, stride "
    f"{CHUNK_STRIDE}) as a LATERAL table function — one doc fans out to "
    "overlapping context-window rows, the shape every pretraining/RAG "
    "pipeline runs before tokenization. The UDTF is the sanctioned escape "
    "hatch for fan-out transforms that genuinely need Python (real BPE "
    "tokenizers, model-based segmenters); this one is whitespace-token "
    "windowing on purpose so the DuckDB oracle can replay it exactly and "
    "pin the plumbing (window starts, overlap, tail handling, token "
    "counts). Embarrassingly parallel: no shuffle, Arrow batches, "
    "per-row independent.",
)
def text_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int", useArrow=True)
    class ChunkDoc:
        def eval(self, text: str):  # noqa: ANN001
            toks = (text or "").split()
            for start in range(0, max(len(toks), 1), CHUNK_STRIDE):
                n = min(CHUNK_TOKENS, len(toks) - start)
                if n > 0:
                    yield (
                        start // CHUNK_STRIDE,
                        " ".join(toks[start : start + CHUNK_TOKENS]),
                        n,
                    )

    spark.udtf.register("chunk_doc", ChunkDoc)
    widen(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "documents_udtf_src"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM documents_udtf_src d, LATERAL chunk_doc(d.text) c
        """
    )


BOILERPLATE_MIN_DF = 3


@register(
    "boilerplate_shingles",
    f"""
    WITH sh AS (
        SELECT doc_id, unnest({{shingles}}) AS s FROM documents
    )
    SELECT s AS shingle, count(*)::bigint AS df,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM sh GROUP BY s HAVING count(*) >= {BOILERPLATE_MIN_DF}
    """.format(shingles="list_distinct(list_transform(range(1, len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))-1), i -> string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i] || ' ' || string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i+1] || ' ' || string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i+2]))"),
    doc=f"Boilerplate detection: 3-gram shingles appearing in >= "
    f"{BOILERPLATE_MIN_DF} distinct documents — navigation chrome, "
    "licenses, and templates that inflate near-dup candidate volume and "
    "poison containment scores. The output IS the stop-shingle list the "
    "containment/minhash passes cap df with at real scale. One "
    "uniform-key shuffle; per-doc shingles are pre-distincted so df "
    "counts documents, not occurrences.",
)
def boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.dedup import (
        _shingle_table,
    )

    docs = widen(load_table(spark, sf_dir, "documents"))
    # same (doc_id, s) relation as the dedup passes, via the Arrow shingle
    # kernel (word_shingles is an interpreted transform HOF — the round-9
    # sf100 profile measured the expression pipeline at 8x the kernel)
    sh = _shingle_table(docs).select("doc_id", "s")
    return (
        sh.groupBy(F.col("s").alias("shingle"))
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .where(F.col("df") >= BOILERPLATE_MIN_DF)
    )


@register(
    "text_token_gini",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'),
               x -> x <> '')) AS t
        FROM documents
    ),
    cnts AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
    agg AS (
        SELECT doc_id, sum(c)::bigint AS total, sum(c * c)::bigint AS sum_sq,
               count(*)::bigint AS distinct_toks
        FROM cnts GROUP BY doc_id
    )
    SELECT doc_id, total AS n_tokens, distinct_toks,
           round(1.0 - sum_sq::double / (total * total)::double, 6)
               AS token_gini
    FROM agg
    """,
    doc="Repetitiveness scoring without libm: per-document token Gini "
    "impurity 1 - Σc²/N² (≈0 for a document repeating one token, →1 for "
    "all-distinct) — the log-free stand-in for token entropy, used by "
    "cleaning pipelines to drop degenerate/spammy text. Both Σc² and N "
    "are INTEGERS, so the only float op is one final division — "
    "engine-exact by construction, no float-summation order anywhere. "
    "Two partial-agg shuffles on uniform (doc, token) / doc keys.",
)
def text_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), TOKEN_DELIM_RE), lambda x: x != "")
        ).alias("t"),
    )
    cnts = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    agg = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        F.count("*").alias("distinct_toks"),
    )
    gini = F.lit(1.0) - F.col("sum_sq").cast("double") / (
        (F.col("total") * F.col("total")).cast("double")
    )
    return agg.select(
        "doc_id",
        F.col("total").alias("n_tokens"),
        "distinct_toks",
        F.round(gini, 6).alias("token_gini"),
    )


# ---------------------------------------------------------------------------
# corpus-filter rules (Gopher-style) + batch-scheduling length buckets
# ---------------------------------------------------------------------------

GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_WORD = 2.0
GOPHER_MAX_MEAN_WORD = 12.0
GOPHER_MAX_TOP_SHARE = 0.2  # most frequent token may claim at most 20%


@register(
    "text_quality_gopher",
    rf"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'),
               x -> x <> '')) AS t
        FROM documents
    ),
    cnts AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
    agg AS (
        SELECT doc_id, sum(c)::bigint AS n_tokens, max(c)::bigint AS top_count
        FROM cnts GROUP BY doc_id
    ),
    chars AS (
        SELECT doc_id,
               length(replace(trim(text), ' ', ''))::bigint AS nonspace
        FROM documents
    )
    SELECT a.doc_id, a.n_tokens,
           {duck_trunc6('a.top_count / a.n_tokens')} AS top_token_share,
           {duck_trunc6('c.nonspace / a.n_tokens')} AS mean_word_len,
           (a.n_tokens >= {GOPHER_MIN_TOKENS} AND a.n_tokens <= {GOPHER_MAX_TOKENS}
            AND c.nonspace / a.n_tokens >= {GOPHER_MIN_MEAN_WORD}
            AND c.nonspace / a.n_tokens <= {GOPHER_MAX_MEAN_WORD}
            AND a.top_count / a.n_tokens <= {GOPHER_MAX_TOP_SHARE}) AS passes
    FROM agg a JOIN chars c ON a.doc_id = c.doc_id
    """,
    doc="Gopher-style corpus filter rules: token-count bounds, mean word "
    "length bounds, and max single-token share (the repetition rule — the "
    "one with real signal on any corpus). Two uniform-key shuffles "
    "((doc,token) counts then per-doc aggregate), partial-agg combined "
    "map-side; the rule thresholds are the standard public corpus-filter "
    "recipe shape, each term recomputed exactly by the oracle.",
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), TOKEN_DELIM_RE), lambda x: x != "")
        ).alias("t"),
    )
    cnts = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    agg = cnts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"), F.max("c").alias("top_count")
    )
    chars = docs.select(
        "doc_id",
        F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit(""))).cast(
            "long"
        ).alias("nonspace"),
    )
    j = agg.join(chars, "doc_id")
    top_share = F.col("top_count") / F.col("n_tokens")
    mean_word = F.col("nonspace") / F.col("n_tokens")
    passes = (
        (F.col("n_tokens") >= GOPHER_MIN_TOKENS)
        & (F.col("n_tokens") <= GOPHER_MAX_TOKENS)
        & (mean_word >= GOPHER_MIN_MEAN_WORD)
        & (mean_word <= GOPHER_MAX_MEAN_WORD)
        & (top_share <= GOPHER_MAX_TOP_SHARE)
    )
    return j.select(
        "doc_id",
        "n_tokens",
        trunc6(top_share).alias("top_token_share"),
        trunc6(mean_word).alias("mean_word_len"),
        passes.alias("passes"),
    )


@register(
    "text_length_buckets",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'))::bigint AS n_tokens
        FROM documents
    )
    SELECT (length(bin(n_tokens)) - 1)::int AS bucket,
           count(*)::bigint AS docs,
           sum(n_tokens)::bigint AS total_tokens,
           min(n_tokens)::bigint AS min_tokens,
           max(n_tokens)::bigint AS max_tokens
    FROM toks GROUP BY bucket
    """,
    doc="Token-length histogram in power-of-two buckets (bucket = "
    "floor(log2 n) via binary-representation length — integer-exact, no "
    "libm): the batch-scheduling profile that decides padding waste vs "
    "packing for fixed-context training. One low-cardinality shuffle "
    "after map-side partial agg.",
)
def text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = token_count(F.col("text")).cast("long")
    bucket = (F.length(F.bin(n)) - 1).cast("int")
    return (
        docs.select(bucket.alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# intra-document repetition signals (RefinedWeb/Gopher-style repetition
# filters: high duplicate-n-gram fraction marks spammy / boilerplate docs)
# ---------------------------------------------------------------------------

REP_NGRAM = 3  # word n-gram length for the repetition scan
REP_DUP_PPM_MAX = 300_000  # keep if <=30% of n-grams are repeats
REP_TOP_PPM_MAX = 200_000  # keep if the most frequent n-gram is <=20%


def word_ngrams_all(text: Column, n: int = REP_NGRAM) -> Column:
    """ALL word n-grams in order (with repeats — unlike
    ``dedup.word_shingles`` which deduplicates into a set).  Same short-doc
    guard: Spark's ``sequence(0, negative)`` descends instead of returning
    empty, so docs with fewer than ``n`` tokens must yield [] explicitly."""
    toks = F.split(F.trim(text), TOKEN_DELIM_RE)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
    )
    return F.transform(idx, gram)


def _repetition_oracle() -> str:
    toks = _DUCK_TOKENS
    gram = " || ' ' || ".join(f"{toks}[i+{k}]" for k in range(REP_NGRAM))
    return f"""
    WITH g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len({toks}) - {REP_NGRAM - 2}),
                                     i -> {gram})) AS g
        FROM documents
    ),
    counts AS (
        SELECT doc_id, g, count(*)::bigint AS c FROM g GROUP BY doc_id, g
    ),
    agg AS (
        SELECT doc_id, sum(c)::bigint AS n_grams,
               count(*)::bigint AS n_distinct, max(c)::bigint AS top_c
        FROM counts GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id, n_grams, n_distinct,
               ((n_grams - n_distinct) * 1000000) // n_grams AS dup_ppm,
               (top_c * 1000000) // n_grams AS top_ppm
        FROM agg
        UNION ALL
        SELECT doc_id, 0, 0, 0, 0 FROM documents
        WHERE len({toks}) < {REP_NGRAM}
    )
    SELECT doc_id, n_grams, n_distinct, dup_ppm, top_ppm,
           (dup_ppm <= {REP_DUP_PPM_MAX} AND top_ppm <= {REP_TOP_PPM_MAX})
               AS keep
    FROM sig
    """


@register(
    "text_repetition_signals",
    _repetition_oracle(),
    doc=f"Intra-document repetition filter (RefinedWeb/Gopher style): "
    f"duplicate word-{REP_NGRAM}-gram fraction and top-n-gram share, in "
    "exact integer ppm (no float division — repartition-invariant and "
    "bit-identical cross-engine). Plan: explode n-grams -> partial-agg "
    "count per (doc, gram) -> per-doc rollup — both shuffles keyed by "
    "doc_id (uniform, no skew), short docs rejoin via a pushed-down "
    "filter scan, no join against the gram table. The keep flag is the "
    "production filter decision.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id", F.explode(word_ngrams_all(F.col("text"))).alias("g")
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    sig = agg.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.expr("((n_grams - n_distinct) * 1000000) div n_grams").alias("dup_ppm"),
        F.expr("(top_c * 1000000) div n_grams").alias("top_ppm"),
    ).unionByName(
        docs.where(token_count(F.col("text")) < REP_NGRAM).select(
            "doc_id",
            F.lit(0).cast("long").alias("n_grams"),
            F.lit(0).cast("long").alias("n_distinct"),
            F.lit(0).cast("long").alias("dup_ppm"),
            F.lit(0).cast("long").alias("top_ppm"),
        )
    )
    return sig.withColumn(
        "keep",
        (F.col("dup_ppm") <= REP_DUP_PPM_MAX)
        & (F.col("top_ppm") <= REP_TOP_PPM_MAX),
    )


# ---------------------------------------------------------------------------
# collocation mining — bigram lift scoring (word2phrase-style phrase
# detection: "new york" scores far above chance, "of the" does not)
# ---------------------------------------------------------------------------

COLLOC_TOP_K = 20


def _colloc_oracle() -> str:
    toks = _DUCK_TOKENS
    return f"""
    WITH tok AS (
        SELECT unnest({toks}) AS w FROM documents
    ),
    uni AS (SELECT w, count(*)::bigint AS c FROM tok WHERE length(w) > 0 GROUP BY w),
    big AS (
        SELECT l, r, count(*)::bigint AS c_ab FROM (
            SELECT t[i] AS l, t[i+1] AS r
            FROM (SELECT {toks} AS t FROM documents), unnest(range(1, len(t))) AS u(i)
        ) WHERE length(l) > 0 AND length(r) > 0
        GROUP BY l, r
    ),
    tot AS (
        SELECT (SELECT sum(c)::bigint FROM uni) AS n_tokens,
               (SELECT sum(c_ab)::bigint FROM big) AS n_bigrams
    ),
    top AS (
        SELECT l, r, c_ab FROM big ORDER BY c_ab DESC, l, r LIMIT {COLLOC_TOP_K}
    )
    SELECT t.l AS left_word, t.r AS right_word, t.c_ab AS pair_count,
           ua.c AS left_count, ub.c AS right_count,
           {duck_trunc6("(t.c_ab::double * x.n_tokens::double * x.n_tokens::double)"
                        " / (x.n_bigrams::double * ua.c::double * ub.c::double)")}
               AS lift
    FROM top t
    JOIN uni ua ON ua.w = t.l
    JOIN uni ub ON ub.w = t.r
    CROSS JOIN tot x
    """


@register(
    "text_collocations",
    _colloc_oracle(),
    doc=f"Collocation mining (word2phrase-style): top-{COLLOC_TOP_K} "
    "adjacent bigrams with lift = p(ab)/(p(a)p(b)) — the phrase-detection "
    "signal that precedes phrase-aware tokenization. Plan: one token "
    "explode feeds two partial-agg shuffles (unigrams, bigrams); the "
    "top-k is a TakeOrdered (no global sort), and the k-row result "
    "BROADCASTS onto the unigram table for the two marginal-count joins "
    "— the vocab-sized side never shuffles. Lift is double with a fixed "
    "multiply order (bit-identical cross-engine), counts are exact "
    "integers.",
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), TOKEN_DELIM_RE)
    tok = docs.select(F.explode(toks).alias("w")).where(F.length("w") > 0)
    uni = tok.groupBy("w").agg(F.count("*").alias("c"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    big = (
        docs.select(F.explode(pairs).alias("p"))
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .where((F.length("l") > 0) & (F.length("r") > 0))
        .groupBy("l", "r")
        .agg(F.count("*").alias("c_ab"))
    )
    tot = uni.agg(F.sum("c").alias("n_tokens")).crossJoin(
        big.agg(F.sum("c_ab").alias("n_bigrams"))
    )
    top = big.orderBy(F.col("c_ab").desc(), "l", "r").limit(COLLOC_TOP_K)
    lift = (
        F.col("c_ab").cast("double")
        * F.col("n_tokens").cast("double")
        * F.col("n_tokens").cast("double")
    ) / (
        F.col("n_bigrams").cast("double")
        * F.col("ca").cast("double")
        * F.col("cb").cast("double")
    )
    with_left = uni.join(F.broadcast(top), uni["w"] == top["l"]).select(
        "l", "r", "c_ab", F.col("c").alias("ca")
    )
    # with_left is <= k rows — IT broadcasts onto the vocab-sized unigram
    # table for the right-marginal lookup (never the reverse)
    return (
        uni.withColumnRenamed("w", "r2")
        .join(F.broadcast(with_left), F.col("r2") == F.col("r"))
        .select("l", "r", "c_ab", "ca", F.col("c").alias("cb"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("l").alias("left_word"),
            F.col("r").alias("right_word"),
            F.col("c_ab").alias("pair_count"),
            F.col("ca").alias("left_count"),
            F.col("cb").alias("right_count"),
            trunc6(lift).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# cross-corpus n-gram novelty — how much of a document exists nowhere else
# ---------------------------------------------------------------------------

@register(
    "text_novelty",
    """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) - 1),
                   i -> string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i] || ' ' ||
                        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')[i+2]))) AS s
        FROM documents
    ),
    df AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id,
           count(*)::bigint AS n_shingles,
           sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::bigint AS n_unique,
           (sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000
               // count(*))::bigint AS novelty_ppm
    FROM sh JOIN df ON sh.s = df.s
    GROUP BY sh.doc_id
    """,
    doc="Cross-corpus novelty per document: the fraction (exact integer "
    "ppm) of its distinct 3-gram shingles that occur in NO other document "
    "— the inverse of the boilerplate/repetition signals, scoring how "
    "much unique content a document contributes to the corpus (dedup "
    "survivors score high; templated copies score near zero). Dataflow: "
    "the shingle explode is map-side, document frequency is ONE "
    "partially-aggregated uniform shingle-key shuffle, and the per-doc "
    "rollup reuses the same relation with a doc_id-keyed aggregation — "
    "the repetition_signals shuffle discipline, df computed corpus-wide "
    "instead of within-doc. Integer division (Spark div == DuckDB // on "
    "bigints) keeps the ppm partitioning-invariant.",
)
def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from training_data_ops.operators.dedup import (
        _shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the shingle relation feeds both the df aggregation and the per-doc
    # rollup join; persist so the explode runs once
    sh = _shingle_table(docs).select("doc_id", "s").persist()
    df = sh.groupBy("s").agg(F.count("*").alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            uniq.alias("n_unique"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("CAST((n_unique * 1000000) DIV n_shingles AS BIGINT)"),
        )
        .select("doc_id", "n_shingles", "n_unique", "novelty_ppm")
    )
