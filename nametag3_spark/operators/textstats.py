"""Text-analysis operators for training-data pipelines (documents table).

All JVM-side column expressions (whole-stage-codegen friendly): language
ID (stopword-hit heuristic), quality scoring (length/punct/stopword
ratios), token counting (whitespace + BPE-ish subword estimate), and a
polynomial rolling-hash document fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nametag3_spark.operators.dedup import check_hash_family

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "une", "dans"],
}


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(F.col(text_col)), r"\s+"))


def subword_count_estimate(text_col: str = "text", chars_per_subword: int = 4) -> Column:
    """BPE-ish subword estimate: ceil(len(word)/4) summed over words —
    the deterministic stand-in for a real tokenizer's length."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    return F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / chars_per_subword).cast("int"),
    )


def _count_matches(text_col: str, pattern: str) -> Column:
    return F.size(F.split(F.col(text_col), pattern)) - 1


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a quality score."""
    n_chars = F.length(F.col(text_col))
    n_tokens = token_count(text_col)
    n_punct = _count_matches(text_col, r"[.,;:!?]")
    words = F.split(F.lower(F.col(text_col)), r"\s+")
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in _STOPWORDS["en"]]))
    )
    return docs.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        (n_punct / F.greatest(n_tokens, F.lit(1))).alias("punct_ratio"),
        (n_stop / F.greatest(n_tokens, F.lit(1))).alias("stopword_ratio"),
        (n_chars / F.greatest(n_tokens, F.lit(1))).alias("avg_word_len"),
    ).withColumn(
        "quality_score",
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("avg_word_len") > 15, 0.2)
        .otherwise(
            F.least(
                F.lit(1.0),
                0.5 + F.col("stopword_ratio") - F.col("punct_ratio") * 0.5,
            )
        ),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword-hit language heuristic: argmax of per-language
    stopword hits, 'und' (undetermined) when nothing matches."""
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    hits = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in sw])))
        for lang, sw in _STOPWORDS.items()
    }
    # argmax with deterministic tiebreak on language code
    scores = F.array(
        *[
            F.struct(hits[lang].alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(_STOPWORDS)
        ]
    )
    best = F.array_max(scores)
    return docs.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    mod: int = 1_000_000_007,
    word_hash: str = "polynomial",
) -> DataFrame:
    """Polynomial rolling-hash fingerprint over words:
    h = sum(word_hash(word_i) * 31^i) mod p — order-sensitive,
    deterministic, built from SQL expressions (aggregate over the word
    array). mod ~2^30 keeps every intermediate product inside int64.

    word_hash:
      - "polynomial" (default): Java-style char polynomial
        (h = h*31 + codepoint, mod p) — expressible identically in DuckDB
        (``list_reduce`` over ``ascii``), so the whole fingerprint is
        cross-engine verifiable (the CORRECTNESS oracle runs it).
      - "xxhash64": JVM-intrinsic word hash — fastest path for pure-Spark
        100 TB runs where no cross-engine twin is needed.
    """
    check_hash_family("word_hash", word_hash, ("polynomial", "xxhash64"))
    if word_hash == "xxhash64":
        def _wh(w):
            return F.pmod(F.xxhash64(w), F.lit(mod))
    else:
        def _wh(w):
            return F.aggregate(
                F.split(w, ""),
                F.lit(0).cast("long"),
                lambda acc, c: F.pmod(acc * 31 + F.ascii(c), F.lit(mod)),
            )

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    rolled = F.aggregate(
        words,
        F.struct(F.lit(0).cast("long").alias("h"), F.lit(1).cast("long").alias("pw")),
        lambda acc, w: F.struct(
            F.pmod(acc["h"] + _wh(w) * acc["pw"], F.lit(mod)).alias("h"),
            F.pmod(acc["pw"] * 31, F.lit(mod)).alias("pw"),
        ),
        lambda acc: acc["h"],
    )
    return docs.withColumn("fingerprint", rolled)


QUALITY_STOPWORDS = ("the", "and", "of", "to", "is", "in")


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    "fraction of characters in the most frequent n-gram" family,
    re-expressed over word n-grams): per document the total n-gram
    count, the most-frequent n-gram's share, and the duplicate-n-gram
    fraction (1 - distinct/total). High values flag boilerplate and
    degenerate repetition the plain length/stopword filter misses.

    Scale shape: explode → groupBy(doc, ngram) with map-side partial
    aggregation (counts collapse before the shuffle), then one keyed
    rollup per doc. No self-join, no window over the corpus; both
    shuffles are keyed on doc_id(+ngram), which cannot skew beyond a
    single document's own length. Documents shorter than ``n`` words
    yield one partial shingle (same convention as the Jaccard shingler,
    matching the DuckDB twin on the edge).
    """
    from nametag3_spark.operators.decontam import word_ngrams

    grams = docs.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("ng"),
    )
    per_gram = grams.groupBy(id_col, "ng").agg(F.count("*").alias("c"))
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.max("c").alias("top_count"),
            F.count("*").alias("n_distinct"),
        )
        .select(
            F.col(id_col),
            F.col("n_ngrams").cast("long").alias("n_ngrams"),
            F.col("top_count").cast("long").alias("top_count"),
            F.round(F.col("top_count") / F.col("n_ngrams"), 6).alias(
                "top_ngram_frac"
            ),
            F.round(1 - F.col("n_distinct") / F.col("n_ngrams"), 6).alias(
                "dup_ngram_frac"
            ),
        )
    )


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stop_hits: int = 2,
    stopwords: tuple[str, ...] = QUALITY_STOPWORDS,
) -> DataFrame:
    """Gopher/C4-style rule-based quality filter: per document, a keep/
    drop decision with the failed-rule names — the artifact an LLM
    training-data pipeline consumes between crawling and dedup (Gopher
    rules table, Rae et al. 2021 §A1.1; C4 heuristics, Raffel et al.
    2020 §2.2 — re-expressed as pure column expressions).

    Rules (fixed emission order so ``reasons`` is deterministic):
      too_short / too_long  — word count outside [min_words, max_words]
      word_len              — mean word length outside the given range
      low_stopword          — fewer than ``min_stop_hits`` distinct
                              stopwords (gibberish / non-prose signal)

    Everything is JVM-side arithmetic over one split of the text (no
    Python, no shuffle — a narrow projection that scales to any corpus
    and pushes straight down onto the scan), and every expression has a
    DuckDB twin, so the whole filter is cross-engine verified by the
    ``quality_filter`` oracle query. ``reasons`` uses concat_ws, which
    skips the NULLs un-triggered rules produce on both engines.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    n_words = F.size(words)
    total_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_len = total_len / n_words
    stop = F.array(*[F.lit(w) for w in stopwords])
    stop_hits = F.size(F.array_intersect(F.array_distinct(words), stop))
    reasons = F.concat_ws(
        ",",
        F.when(n_words < min_words, F.lit("too_short")),
        F.when(n_words > max_words, F.lit("too_long")),
        F.when(
            (mean_len < min_mean_word_len) | (mean_len > max_mean_word_len),
            F.lit("word_len"),
        ),
        F.when(stop_hits < min_stop_hits, F.lit("low_stopword")),
    )
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k salient terms by TF-IDF — the classic term-
    salience signal a KG builder uses to rank candidate entity surfaces
    and keywords per document (downstream of mention extraction, the
    statistical cousin of gazetteer hits). score = tf * ln(N/df),
    rounded to 6 decimals BEFORE ranking so the (score desc, term asc)
    order is identical across engines; ties at equal rounded score are
    broken lexicographically.

    Scale shape: two keyed aggregations (doc+term, then term) with
    map-side partial aggregation, one equi-join on term (df table is
    |vocab| rows — AQE broadcasts it when small), one per-document
    window for the top-k. No self-join, no corpus-wide window; N is a
    single bounded driver scalar (one count job).
    """
    from pyspark.sql.window import Window

    terms = docs.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )
