"""Text-analysis operators for the training-data tier: quality scoring,
token statistics, language ID (n-gram/markers heuristic), and document
fingerprinting — all pure column expressions (no UDFs, fully codegen'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacetime_crawler_spark.functions.tokenize import (
    DUCK_TOKENS,
    SPARK_TOKENS,
    STOPWORDS,
    sql_stopword_list,
)
from spacetime_crawler_spark.sources.tables import load_table, spread


# --- quality scoring ----------------------------------------------------------

# The canonical quality-signal expressions (Spark SQL strings over a `text`
# column), shared by text_quality_score AND pipeline_training_set so the
# keep rule cannot drift between the standalone operator and the composite.
# Values are ROUNDED to 4dp BEFORE thresholding — both consumers and both
# engines must agree at the boundary.
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
SPARK_N_TOKENS = f"size({SPARK_TOKENS})"
SPARK_STOP_RATIO = (
    f"round(size(filter({SPARK_TOKENS}, t -> t IN ({_STOP_LIST})))"
    f" / greatest(size({SPARK_TOKENS}), 1), 4)"
)
SPARK_AVG_TOK_LEN = (
    f"round(aggregate({SPARK_TOKENS}, 0L, (a, t) -> a + length(t))"
    f" / greatest(size({SPARK_TOKENS}), 1), 4)"
)
# DuckDB mirrors over a pre-tokenized `w` column (see TEXT_QUALITY_SQL /
# PIPELINE_TRAINING_SET_SQL for the CTE that binds w)
DUCK_N_TOKENS_W = "CAST(len(w) AS INT)"
DUCK_STOP_RATIO_W = (
    f"ROUND(len(list_filter(w, x -> x IN ({sql_stopword_list()}))) * 1.0"
    " / GREATEST(len(w), 1), 4)"
)
DUCK_AVG_TOK_LEN_W = (
    "ROUND(list_sum(list_transform(w, x -> LENGTH(x))) * 1.0"
    " / GREATEST(len(w), 1), 4)"
)
# the keep rule, thresholded on the rounded signals
QUALITY_KEEP_MIN_TOKENS = 5
QUALITY_KEEP_MAX_STOP_RATIO = 0.6
QUALITY_KEEP_MIN_AVG_TOK_LEN = 2


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals (length, stopword ratio, alnum ratio, mean
    token length) + a boolean keep-flag — the C4/Gopher-style rule shape.
    Single narrow projection; at 100 TB this is a map-only stage that
    filters before any shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(SPARK_N_TOKENS).alias("n_tokens"),
        F.expr(SPARK_STOP_RATIO).alias("stop_ratio"),
        F.round(
            F.expr(
                "length(regexp_replace(text, '[^a-zA-Z0-9]', ''))"
                " / greatest(length(text), 1)"
            ),
            4,
        ).alias("alnum_ratio"),
        F.expr(SPARK_AVG_TOK_LEN).alias("avg_tok_len"),
    ).withColumn(
        "keep",
        (
            (F.col("n_tokens") >= QUALITY_KEEP_MIN_TOKENS)
            & (F.col("stop_ratio") <= QUALITY_KEEP_MAX_STOP_RATIO)
            & (F.col("avg_tok_len") >= QUALITY_KEEP_MIN_AVG_TOK_LEN)
        ).cast("int"),
    )


TEXT_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {DUCK_TOKENS} AS w FROM documents
),
m AS (
  SELECT doc_id,
         {DUCK_N_TOKENS_W} AS n_tokens,
         {DUCK_STOP_RATIO_W} AS stop_ratio,
         ROUND(LENGTH(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) * 1.0
               / GREATEST(LENGTH(text), 1), 4) AS alnum_ratio,
         {DUCK_AVG_TOK_LEN_W} AS avg_tok_len
  FROM t
)
SELECT doc_id, n_tokens, stop_ratio, alnum_ratio, avg_tok_len,
       CAST(n_tokens >= {QUALITY_KEEP_MIN_TOKENS}
            AND stop_ratio <= {QUALITY_KEEP_MAX_STOP_RATIO}
            AND avg_tok_len >= {QUALITY_KEEP_MIN_AVG_TOK_LEN} AS INT) AS keep
FROM m
"""


# --- corpus token statistics ----------------------------------------------------

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the tokenize feeding the per-lang aggregate is the whole cost
    # (sums are over integers — exact under any re-partitioning)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", F.expr(f"size({SPARK_TOKENS})").alias("n_tok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


TEXT_TOKEN_STATS_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({DUCK_TOKENS})) AS BIGINT) AS total_tokens,
       ROUND(AVG(len({DUCK_TOKENS})), 4) AS avg_tokens
FROM documents GROUP BY lang ORDER BY lang
"""


# --- language ID: char-trigram profiles --------------------------------------------

# Pinned character-trigram profiles (space-delimited, lowercase).  Unlike
# marker WORDS, trigrams generalize to unseen vocabulary — 'ing', ' th',
# 'sch', 'ción' fragments fire on any text in the language, which is the
# standard n-gram-profile langid design (Cavnar–Trenkle).  Profiles are
# deliberately small and pinned (no training data in this sandbox); 'zh'
# matches the corpus's pinyin-with-tone-digit romanization.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", "ng ", " an", "and", "nd ", " of",
           "of ", " to", "to ", " in", "in ", "ion", "tio", "ati", " is",
           "is ", "ed ", "er ", " be", "ent", "th ", " wi", "wit", "ith",
           " re", " on", "on ", " it", "at ", " wa", "was", "ere", "ted"),
    "es": (" de", "de ", " la", "la ", " el", "el ", "que", " qu", "ue ",
           " co", "os ", "as ", " en", "en ", " se", "ión", "ció", "ón ",
           " un", "ar ", "ra ", " es", "nte", " po", "por", "or ", "ada",
           "ado", "los", " lo", "del", "a d", "e l", "o d"),
    "de": ("der", " de", "die", " di", "ie ", "und", " un", "nd ", "sch",
           "ch ", "ein", " ei", "ine", "ich", "cht", "ung", "gen", "en ",
           "das", " da", "as ", "it ", "mit", " mi", " ge", "ver", " ve",
           "ten", "ber", " be", "eit", "sse", "rch", "wäh", "für"),
    "fr": (" de", "de ", " le", "le ", "les", " la", "la ", "es ", "ent",
           "nt ", " et", "et ", " un", "un ", "une", "re ", " qu", "que",
           "ue ", " pa", "par", " po", "our", "ur ", "ait", " da", "dan",
           "ans", "eur", "eau", " ce", "est", " ch", "cha", "ai "),
    "zh": ("de5", "e5 ", "shi", "hi4", "i4 ", "bu4", "u4 ", "le5", "wo3",
           "o3 ", "zai", "ai4", "you", "ou3", "u3 ", "he2", "e2 ", "ni3",
           "i3 ", "men", "en5", "n5 ", "ta1", "a1 ", "hao", "ao3", "zhe",
           "he4", "e4 ", "ge4", "ng2", "ng3", "uo1", "o1 ", "n3 "),
    "pt": (" de", "de ", " qu", "que", "ue ", "ão ", "ção", "açã", " co",
           "os ", "as ", "es ", " es", "est", " um", "um ", "da ", " da",
           "do ", " do", "ent", "nte", " pa", "par", "ara", "ra ", " se",
           "em ", " em", "com", "não", " nã", "ada", "ndo", " fo"),
    "it": (" di", "di ", " ch", "che", "he ", " la", "la ", " il", "il ",
           " co", "con", "on ", "re ", "del", "ell", "lla", " un", "un ",
           "una", "to ", "ion", "zio", "one", " pe", "per", "er ", "ato",
           "ta ", "gli", " gl", "ità", "men", "nte", " so", "no "),
    "nl": (" de", "de ", "en ", " he", "het", "et ", "van", " va", "an ",
           "een", " ee", "n d", " ge", "ijk", "ij ", "aar", "oor", " vo",
           "voo", "der", " da", "dat", "at ", "ver", "cht", "ing", "ng ",
           " ni", "nie", "iet", " op", "op ", " zi", "ijn", "jn "),
    # Russian: scientific-transliteration trigrams (ASCII-normalized crawls)
    # PLUS native UTF-8 Cyrillic trigrams — one profile, both scripts, so
    # the same exact-match scorer fires on either form of the language
    "ru": ("ogo", "ego", " ne", "ne ", " na", "na ", " po", "pri", " pr",
           "ost", "sti", "eni", "nie", "aja", "ija", "ja ", "sja", "shc",
           "hch", "zhd", " za", "ych", "ykh", "yj ", "ij ", "uju", "ju ",
           "ymi", "ami", " ko", "kot", "oto", "tor", "cht", "to ",
           " не", "не ", " на", "на ", "ого", "его", " по", "при", " пр",
           "ост", "сти", "ени", "ние", "ать", "ть ", "тьс", "ься", " чт",
           "что", "то ", "ый ", "ий ", "ой ", "ами", " за", "ств", " ко",
           "кот", "ото", "тор", "ет ", "ова", "ая ", "ли "),
    # Ukrainian: native Cyrillic only (Ukrainian crawls are rarely
    # transliterated).  The closely-related-language case ru-vs-uk is where
    # trigram profiles actually fail, so beyond the shared East-Slavic mass
    # (" не", " на" — deliberately kept: a profile models the LANGUAGE, not
    # its diff vs a rival) the list leans on uk-specific orthography: the
    # vowels і/ї (absent in ru), -ння/-ення verbal nouns, -ський, від-/пі-
    # prefixes, the є copula.  Discrimination vs ru and bg is pinned with
    # margin ≥ 2 in tests/test_similarity.py.
    "uk": (" не", "не ", " на", "на ", " що", "що ", " та", "та ", " ві",
           "від", "ід ", "ів ", "ий ", "ої ", "ою ", "ння", "енн", "анн",
           "ост", "сть", "ть ", "ати", "ити", "ува", "ють", " є ", "ськ",
           "ько", "льн", " до", "до ", "ні ", " і ", "ії ", "їни", "аїн",
           "ьог", "уть", "удь", "сля", "піс", " пі", " як", "як ", "яка",
           "яку", "ані", "ові", "ті ", "ому"),
    # Bulgarian: native Cyrillic; analytic-Slavic signature — postposed
    # definite articles (-ът/-то/-та/-ите/-ият), the че/ще/да particles,
    # and the ъ vowel ru/uk lack entirely.
    "bg": (" на", "на ", " да", "да ", " се", "се ", " е ", "то ", "та ",
           "ата", "ите", "те ", "ият", "ото", " съ", "със", "ъв ", "ът ",
           "ърж", " въ", "ва ", "ане", "ние", "ия ", " пр", "при", "про",
           " ко", "кои", "ойт", "ито", "еше", " бе", "ано", " че", "че ",
           " ще", "ще ", "ъда", "дат", "ато", "кат", " ка", "ван", "ани"),
}

# reliability gate for the confidence column: a prediction is flagged
# reliable when the winner has at least _RELIABLE_MIN_HITS profile hits AND
# beats the runner-up by at least _RELIABLE_MIN_MARGIN (the two failure
# modes downstream filters care about: too little signal, or two languages
# within noise of each other — e.g. pt vs es on short Romance snippets)
_RELIABLE_MIN_HITS = 3
_RELIABLE_MIN_MARGIN = 2

# Native-script CJK layer: exact trigram matching cannot work on unsegmented
# CJK text (a function character like 的 appears inside arbitrary 3-char
# windows, so no pinned trigram list fires reliably), and real langid
# systems decide SCRIPT first (CLD/fastText style).  Characters per Unicode
# block are counted over the same normalized prefix; a script call needs
# both an absolute floor (a Latin doc quoting one Chinese word must not
# flip) and a fraction of the prefix.  Precedence within CJK is pinned:
# Hangul → ko; kana → ja (kana is uniquely Japanese and Japanese prose
# always carries it, which is what separates ja from Han-only zh); Han → zh.
# Cyrillic needs no script override — the ru/uk/bg profiles carry native
# trigrams, so the ordinary scorer handles (and discriminates between)
# Cyrillic languages where a script rule never could.
_SCRIPT_PATTERNS: tuple[tuple[str, str, str], ...] = (
    # (script key, predicted lang, character-class regex); precedence order
    ("hangul", "ko", "[\\uac00-\\ud7af]"),
    ("kana", "ja", "[\\u3040-\\u30ff]"),
    ("han", "zh", "[\\u4e00-\\u9fff]"),
)
_SCRIPT_MIN_CHARS = 10      # absolute floor within the prefix
_SCRIPT_MIN_FRACTION = 0.1  # of non-space prefix characters

# first 1000 chars are ample signal; bounds per-row HOF cost on huge docs
_LANGID_PREFIX = 1000


def _langid_norm_expr(text_col: str) -> str:
    return (
        f"concat(' ', regexp_replace(lower(substring(coalesce({text_col}, ''),"
        f" 1, {_LANGID_PREFIX})), '\\\\s+', ' '), ' ')"
    )


# NB Spark's sequence(1, 0) is DESCENDING [1, 0], never empty — short texts
# need the explicit guard.  Two-step projection (normalized string first,
# trigrams from the `nt` column) so the regex/lower pipeline runs once per
# ROW — embedded in the transform() lambda it would re-run per trigram
# element (HOF lambda bodies are outside common-subexpression elimination;
# same pattern and rationale as the shingle exprs in operators/dedup.py).
_LANGID_TRIGRAMS_FROM_NT = """
  case when length(nt) < 3 then array()
       else transform(sequence(1, length(nt) - 2),
                      i -> substring(nt, i, 3)) end
"""


def _langid_decide(df: DataFrame, text_col: str, keep: list[str]) -> DataFrame:
    """Core scorer: `keep` columns + (pred_lang, n_hits, margin,
    is_reliable) from `text_col`.  Script-count layer first (native CJK —
    see _SCRIPT_PATTERNS), then occurrence count of each language
    profile's trigrams over the normalized text prefix, argmax with a
    pinned tie-break (profile dict order), 'und' on zero hits everywhere.
    For trigram calls margin = winner hits − runner-up hits; for script
    calls n_hits = chars of the winning script and margin = that count −
    the strongest competing signal (other scripts or best trigram score),
    so one is_reliable contract — enough absolute signal AND clear of the
    runner-up — covers both layers.  Pure column expressions — map-only,
    fully codegen'd; `keep` columns (including binaries) ride the
    projections untouched."""
    # the FULL set of intermediate/output names this pipeline introduces —
    # a carried column shadowing any of them would produce a duplicate
    # column or an AMBIGUOUS_REFERENCE deep in the plan; fail up front
    # with the offending name instead
    reserved = (
        {"nt", "tg", "n_chars", "d", "pred_lang", "n_hits", "margin",
         "is_reliable"}
        | {f"sc_{key}" for key, _lang, _pat in _SCRIPT_PATTERNS}
        | {f"score_{lang}" for lang in LANG_TRIGRAMS}
    )
    clashes = reserved.intersection(keep)
    if clashes:
        raise ValueError(
            f"langid reserves column name(s) {sorted(clashes)} — rename or "
            "drop them before annotate_lang/langid_scores"
        )
    normed = df.select(*keep, F.expr(_langid_norm_expr(text_col)).alias("nt"))
    script_counts = [
        (F.length("nt") - F.length(F.regexp_replace(F.col("nt"), pat, "")))
        .alias(f"sc_{key}")
        for key, _lang, pat in _SCRIPT_PATTERNS
    ]
    base = normed.select(
        *keep,
        F.expr(_LANGID_TRIGRAMS_FROM_NT).alias("tg"),
        F.length(F.regexp_replace(F.col("nt"), " ", "")).alias("n_chars"),
        *script_counts,
    )
    score_cols = [
        F.expr(
            f"size(filter(tg, t -> t IN ({', '.join(repr(t) for t in tgs)})))"
        ).alias(f"score_{lang}")
        for lang, tgs in LANG_TRIGRAMS.items()
    ]
    skeys = [key for key, _lang, _pat in _SCRIPT_PATTERNS]
    scored = base.select(
        *keep, "n_chars", *[F.col(f"sc_{k}") for k in skeys], *score_cols
    )
    langs = list(LANG_TRIGRAMS)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    # runner-up via one descending sort of the small fixed-width score array
    second = F.expr(
        "sort_array(array({}), false)[1]".format(
            ", ".join(f"score_{lang}" for lang in langs)
        )
    )
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    # one (pred, hits, margin) decision struct: script branches in pinned
    # precedence order, trigram argmax as the fallthrough
    decision = None
    for key, lang, _pat in _SCRIPT_PATTERNS:
        mine = F.col(f"sc_{key}")
        # three gates: absolute floor, prefix fraction, AND stronger than
        # the best trigram score — a majority-Latin document QUOTING a long
        # CJK passage keeps its Latin-language call (the trigram evidence
        # outweighs the quoted script), while genuine CJK text (whose Latin
        # trigram scores are ~0) still resolves by script
        cond = (
            (mine >= _SCRIPT_MIN_CHARS)
            & (mine >= _SCRIPT_MIN_FRACTION * F.col("n_chars"))
            & (mine > best)
        )
        # Han is SUPPORTING evidence for a kana call, not a rival — kanji
        # routinely outnumbers kana in Japanese prose, and kana's presence
        # is precisely what separates ja from zh
        rival_keys = [
            k for k in skeys if k != key and not (key == "kana" and k == "han")
        ]
        rivals = [F.col(f"sc_{k}") for k in rival_keys] + [best]
        branch = F.struct(
            F.lit(lang).alias("p"),
            mine.alias("h"),
            (mine - F.greatest(*rivals)).alias("m"),
        )
        decision = (
            F.when(cond, branch) if decision is None
            else decision.when(cond, branch)
        )
    decision = decision.otherwise(
        F.struct(pred.alias("p"), best.alias("h"), (best - second).alias("m"))
    )
    d = scored.select(*keep, decision.alias("d"))
    return d.select(
        *keep,
        F.col("d.p").alias("pred_lang"),
        F.col("d.h").alias("n_hits"),
        F.col("d.m").alias("margin"),
        (
            (F.col("d.h") >= _RELIABLE_MIN_HITS)
            & (F.col("d.m") >= _RELIABLE_MIN_MARGIN)
        ).alias("is_reliable"),
    )


def langid_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, pred_lang, n_hits, margin, is_reliable) —
    see _langid_decide for the decision contract."""
    return _langid_decide(docs, "text", ["doc_id"])


def annotate_lang(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang"
) -> DataFrame:
    """Ingest-path language annotation: every original column plus
    `lang_col` = the langid call when is_reliable, else NULL (downstream
    per-language budgeting must never act on noise-floor calls; NULL is
    honest where 'und'-vs-unreliable would conflate two meanings).  A
    pre-existing `lang_col` is REPLACED — this is the writer of record for
    that column on WARC/crawl ingest.  Map-only column expressions: at
    100 TB this adds zero shuffles to whatever plan carries it."""
    keep = [c for c in df.columns if c != lang_col]
    scored = _langid_decide(df, text_col, keep)
    return scored.select(
        *keep,
        F.when(F.col("is_reliable"), F.col("pred_lang")).alias(lang_col),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID over the documents table.  Rows-only driver
    check (heuristic argmax isn't ANSI SQL); accuracy is unit-tested on
    multi-language snippets including vocabulary outside any profile."""
    return langid_scores(load_table(spark, sf_dir, "documents"))


# --- BPE-ish token counting ---------------------------------------------------------

# GPT-2-style pre-tokenizer shape, restricted to Java-regex-portable classes:
# contractions | letter runs (with optional leading space) | digit runs |
# punctuation runs | whitespace runs.  Pinned here; the pure tokenizer below
# and the Spark expression must agree (unit-tested), so the driver check is
# rows-only but the semantics are pinned cross-implementation.
BPE_PRETOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_pretokenize(text: str | None) -> list[str]:
    """Pure reference implementation (shared with tests)."""
    import re as _re

    if not text:
        return []
    return [t for t in _re.findall(BPE_PRETOKEN_REGEX, text) if t.strip()]


def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE-ish token counts: whitespace tokens vs pre-tokenizer
    tokens (the cost signal a training pipeline budgets by).  JVM-side via
    regexp_extract_all — no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(filter(split(text, '\\\\s+'), x -> x != ''))").alias("ws_tokens"),
        F.expr(
            f"size(filter(regexp_extract_all(text, \"{BPE_PRETOKEN_REGEX}\", 0),"
            " x -> trim(x) != ''))"
        ).alias("bpe_tokens"),
    )


# --- document fingerprint ----------------------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (Karp–Rabin-style) fingerprint of the token
    stream: v(tok) = ascii(first char)·1000003 + len(tok);
    fp = foldl(tokens, 0, (acc, v) → (acc·131 + v) mod (2^31−1)).
    Same fold in Spark `aggregate` and DuckDB `list_reduce` — value-checked
    by the oracle, which pins cross-engine determinism of the fold."""
    docs = load_table(spark, sf_dir, "documents")
    fp_expr = f"""
      aggregate(
        transform({SPARK_TOKENS},
                  t -> cast(ascii(substring(t, 1, 1)) as bigint) * 1000003
                       + length(t)),
        0L, (acc, v) -> (acc * 131 + v) % 2147483647
      )
    """
    return docs.select("doc_id", F.expr(fp_expr).alias("fingerprint"))


TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform({DUCK_TOKENS},
             t -> CAST(ascii(substr(t, 1, 1)) AS BIGINT) * 1000003
                  + LENGTH(t))),
         (acc, v) -> (acc * 131 + v) % 2147483647
       ) AS fingerprint
FROM documents
"""


# --- corpus bigram vocabulary -------------------------------------------------------

TOP_BIGRAMS_K = 30

# adjacent-token bigrams over a bound `t` tokens column (element_at is
# 1-based; the size<2 guard matters because Spark's sequence(1, 0) is
# DESCENDING, not empty) — shared by text_bigrams_topk and
# text_repetition_stats so the two operators count the same bigrams
_SPARK_BIGRAMS = (
    "case when size(t) < 2 then array() else"
    " transform(sequence(1, size(t) - 1),"
    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) end"
)


def text_bigrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent-token bigrams over the corpus — the vocabulary-builder
    shape of training-data prep (same plan family as A4: explode →
    partial+final hash aggregate → TakeOrderedAndProject, so the shuffle
    carries one row per DISTINCT bigram, not per occurrence).  Bigrams are
    built JVM-side with a HOF over the shared tokenizer (element_at is
    1-based; the size<2 guard matters because Spark's sequence(1, 0) is
    DESCENDING, not empty).  spread(): the tokenize+explode+partial-agg
    stage is the whole cost — parallelize it past the one-row-group scan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.expr(SPARK_TOKENS).alias("t"))
        .select(F.explode(F.expr(_SPARK_BIGRAMS)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(TOP_BIGRAMS_K)
    )


TEXT_BIGRAMS_SQL = f"""
WITH t AS (SELECT {DUCK_TOKENS} AS w FROM documents),
b AS (
  SELECT unnest(CASE WHEN len(w) < 2 THEN []
                     ELSE list_transform(generate_series(1, len(w) - 1),
                                         i -> w[i] || ' ' || w[i + 1]) END)
         AS bigram
  FROM t
)
SELECT bigram, COUNT(*) AS n FROM b
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT {TOP_BIGRAMS_K}
"""


# --- per-doc repetition signals (Gopher-style) --------------------------------------

# Thresholds for the `repetitive` flag (Gopher prunes docs whose most
# frequent 2-gram covers too much of the doc or whose 5-grams are mostly
# duplicates; exact values here are pinned for cross-engine parity, not
# tuned).  Signals are ROUNDED to 4dp before thresholding — both engines
# must agree at the boundary (same discipline as the quality keep rule).
REPEAT_TOP_BIGRAM_MAX = 0.08
REPEAT_DUP_5GRAM_MAX = 0.55

_SPARK_5GRAMS = (
    "case when size(t) < 5 then cast(array() as array<string>) else"
    " transform(sequence(1, size(t) - 4),"
    " i -> concat_ws(' ', slice(t, i, 5))) end"
)


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals — the Gopher-rule family (Rae et al. 2021,
    'repetitious text' filters): duplicate-word fraction, duplicate-5-gram
    fraction, and the fraction of bigram occurrences taken by the doc's most
    frequent bigram, plus a thresholded `repetitive` flag.

    Plan shape for 100 TB: ALL FOUR signals are pure column expressions —
    including the top-bigram mode, computed per doc as the longest equal
    run of the SORTED bigram array (sort + one fold, O(b log b) on the
    doc's own array).  r5 shipped the mode through an explode + two hash
    aggregates keyed per (doc, bigram); the corpus-scale shuffle carried
    one row per bigram OCCURRENCE for a value that only ever depends on
    one document's rows (measured 3.8 s → the scan floor at sf1.0, plan:
    3 Exchange → 1).  The remaining exchange is the output ORDER BY."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # The signal expressions are all computed in one projection over the
    # tokens column `t` (materialized by the projection below them, so the
    # tokenize runs once per doc).  max-run fold: over the sorted bigram
    # array, equal bigrams are adjacent, so the mode's count is the longest
    # run of consecutive equal elements — acc carries (previous element,
    # current run, best run).
    _MAX_RUN = """
      aggregate(
        array_sort(bg),
        named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),
        (acc, x) -> named_struct(
          'prev', x,
          'run', if(acc.prev <=> x, acc.run + 1L, 1L),
          'best', greatest(acc.best,
                           if(acc.prev <=> x, acc.run + 1L, 1L))),
        acc -> acc.best
      )
    """
    return (
        docs.select("doc_id", F.expr(SPARK_TOKENS).alias("t"))
        .select(
            "doc_id",
            F.expr("cast(size(t) as int)").alias("n_tokens"),
            F.expr(
                "case when size(t) = 0 then 0.0 else"
                " round(1 - size(array_distinct(t)) / size(t), 4) end"
            ).alias("dup_word_frac"),
            F.expr(
                "case when size(t) < 5 then 0.0 else"
                f" round(1 - size(array_distinct({_SPARK_5GRAMS}))"
                " / (size(t) - 4), 4) end"
            ).alias("dup_5gram_frac"),
            F.expr(_SPARK_BIGRAMS).alias("bg"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dup_word_frac",
            "dup_5gram_frac",
            F.expr(
                "case when size(bg) = 0 then 0.0 else"
                f" round({_MAX_RUN} / size(bg), 4) end"
            ).alias("top_bigram_frac"),
        )
        .withColumn(
            "repetitive",
            (
                (F.col("top_bigram_frac") > REPEAT_TOP_BIGRAM_MAX)
                | (F.col("dup_5gram_frac") > REPEAT_DUP_5GRAM_MAX)
            ).cast("int"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS w FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(w) AS INT) AS n_tokens,
         CASE WHEN len(w) = 0 THEN 0.0
              ELSE ROUND(1 - len(list_distinct(w)) * 1.0 / len(w), 4)
         END AS dup_word_frac,
         CASE WHEN len(w) < 5 THEN 0.0
              ELSE ROUND(1 - len(list_distinct(
                       list_transform(range(1, len(w) - 3),
                                      i -> array_to_string(w[i:i+4], ' '))
                     )) * 1.0 / (len(w) - 4), 4)
         END AS dup_5gram_frac,
         CASE WHEN len(w) < 2 THEN []
              ELSE list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1])
         END AS bg
  FROM t
),
s AS (
  SELECT doc_id, n_tokens, dup_word_frac, dup_5gram_frac,
         CASE WHEN len(bg) = 0 THEN 0.0
              ELSE ROUND(list_max(list_transform(list_distinct(bg),
                           x -> len(list_filter(bg, y -> y = x))))
                         * 1.0 / len(bg), 4)
         END AS top_bigram_frac
  FROM m
)
SELECT doc_id, n_tokens, dup_word_frac, dup_5gram_frac, top_bigram_frac,
       CAST(top_bigram_frac > {REPEAT_TOP_BIGRAM_MAX}
            OR dup_5gram_frac > {REPEAT_DUP_5GRAM_MAX} AS INT) AS repetitive
FROM s ORDER BY doc_id
"""


# --- per-source quality aggregation -------------------------------------------------

def source_quality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain-level) corpus health: doc count, mean token
    count, keep rate under the SHARED quality rule exprs (same constants as
    text_quality_score / pipeline_training_set, so domain filtering can
    never drift from document filtering).  The C4-style 'drop low-quality
    domains wholesale' primitive: one map-only projection then a hash
    aggregate keyed by source — at 100 TB the shuffle carries one row per
    source, not per doc.  spread: the three tokenize-heavy signal exprs
    feed the aggregate, and the one-row-group scan would evaluate them
    single-threaded (int sums → exact under any re-partitioning)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    sig = docs.select(
        "source",
        F.expr(SPARK_N_TOKENS).alias("n_tokens"),
        F.expr(SPARK_STOP_RATIO).alias("stop_ratio"),
        F.expr(SPARK_AVG_TOK_LEN).alias("avg_tok_len"),
    ).withColumn(
        "keep",
        (
            (F.col("n_tokens") >= QUALITY_KEEP_MIN_TOKENS)
            & (F.col("stop_ratio") <= QUALITY_KEEP_MAX_STOP_RATIO)
            & (F.col("avg_tok_len") >= QUALITY_KEEP_MIN_AVG_TOK_LEN)
        ).cast("int"),
    )
    return (
        sig.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("keep"), 4).alias("keep_rate"),
        )
        .orderBy("source")
    )


SOURCE_QUALITY_AGG_SQL = f"""
WITH t AS (
  SELECT source, text, {DUCK_TOKENS} AS w FROM documents
),
m AS (
  SELECT source,
         {DUCK_N_TOKENS_W} AS n_tokens,
         {DUCK_STOP_RATIO_W} AS stop_ratio,
         {DUCK_AVG_TOK_LEN_W} AS avg_tok_len
  FROM t
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(n_tokens), 4) AS avg_tokens,
       ROUND(AVG(CAST(n_tokens >= {QUALITY_KEEP_MIN_TOKENS}
                      AND stop_ratio <= {QUALITY_KEEP_MAX_STOP_RATIO}
                      AND avg_tok_len >= {QUALITY_KEEP_MIN_AVG_TOK_LEN}
                      AS INT)), 4) AS keep_rate
FROM m GROUP BY source ORDER BY source
"""
