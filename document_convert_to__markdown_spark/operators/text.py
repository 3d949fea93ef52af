"""Text-analysis operators over ``documents`` — all JVM-side expressions.

Every operator here is a pure Catalyst expression chain (no UDF): at
100 TB these run inside whole-stage codegen at scan speed, and each has
an exact DuckDB-SQL oracle in ``__spark_entry__.oracle_sql``.

The extraction *cleanup chain* (A15/A16) has Python-regex semantics
(lookbehind, the \\x01 quirk) that Java/RE2 regexes cannot reproduce, so
it stays in the Arrow UDF (cleanup_markdown_udf) with a rows-only check.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType

from .udf import per_call_pandas_udf

# Shared stopword probes per language (tiny n-gram heuristic — the goal
# is deterministic cross-engine language ID, not linguistic accuracy).
LANG_PROBES: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " los ", " para "],
    "de": [" der ", " und ", " nicht "],
    "fr": [" le ", " les ", " pour "],
}


def space_tokens(col: Column) -> Column:
    """THE shared whitespace tokenizer: lowercase, split on single
    spaces, drop empties.  ``ngram_lm_score`` and ``dsir`` both train
    on it, and every DuckDB oracle mirrors it as
    ``list_filter(string_split(lower(text), ' '), t -> t <> '')`` —
    keep the three representations bit-identical."""
    return F.filter(F.split(F.lower(col), " "), lambda t: t != "")


def bigram_array(tok_col: str) -> Column:
    """Relational bigram builder over a token-array column name:
    ``transform`` + ``slice`` (no UDF), shared by ``ngram_lm_score``
    and ``dsir``; oracle form is
    ``list_transform(range(1, greatest(len(t)-1,0)+1),
    i -> t[i] || ' ' || t[i+1])``."""
    return F.expr(
        "transform(slice({c}, 1, greatest(size({c}) - 1, 0)), "
        "(w, i) -> concat(w, ' ', element_at({c}, i + 2)))"
        .format(c=tok_col))


def _probe_count(col: Column, probes: list[str]) -> Column:
    c = F.lit(0)
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    for p in probes:
        # count of non-overlapping occurrences via split-size (identical
        # semantics to the oracle's len(string_split(...)) - 1).
        c = c + F.size(F.split(padded, F.lit(p), -1)) - 1
    return c


def predicted_lang(text_col: Column) -> Column:
    """Per-row heuristic language prediction (the expression
    ``language_id`` aggregates; reusable wherever rows arrive without a
    ``lang`` label, e.g. the CLI curation stage over extracted
    markdown).  Pure codegen'd expressions — CJK range probe plus
    stopword probe argmax."""
    cjk = F.regexp_count(text_col, F.lit(r"[一-鿿]"))
    s = {code: _probe_count(text_col, probes)
         for code, probes in LANG_PROBES.items()}
    return (
        F.when(cjk > 0, F.lit("zh"))
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"])
              & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Heuristic language ID → confusion matrix vs the labeled ``lang``."""
    return (
        documents.select(
            "lang", predicted_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


# Cross-language probe stopwords (quality signal: natural prose contains
# them; keyword-stuffed or garbled text does not).
QUALITY_STOPWORDS = ["the", "and", "of", "el", "los", "der", "und",
                     "le", "les"]


def quality_score(documents: DataFrame) -> DataFrame:
    """Length/punct/digit/stopword/word-length quality features + score."""
    t = F.col("text")
    n = F.length(t)
    words = F.size(F.split(F.trim(t), r"\s+"))
    stop_hits = _probe_count(
        t, [f" {w} " for w in QUALITY_STOPWORDS]
    )
    scored = documents.select(
        "doc_id", "lang",
        n.alias("n_chars_actual"),
        words.alias("n_words"),
        F.round(
            (F.length(F.regexp_replace(t, r"[^.,;:!?]", "")) / n), 4
        ).alias("punct_ratio"),
        F.round((F.length(F.regexp_replace(t, r"[^0-9]", "")) / n), 4).alias(
            "digit_ratio"
        ),
        F.round(stop_hits / words, 4).alias("stopword_ratio"),
        F.round(n / words, 4).alias("mean_word_len"),
    )
    score = (
        F.when(F.col("n_words") < 5, 0.0)
        .when(F.col("punct_ratio") > 0.2, 0.2)
        .when(F.col("mean_word_len") > 12, 0.4)
        .otherwise(1.0)
    )
    return scored.withColumn("quality", score)


# BPE-style pre-tokenization: letter runs, digit runs, punctuation runs —
# the unit boundaries a byte-pair tokenizer merges within.  ASCII classes
# so the Java (Spark) and RE2 (DuckDB) dialects agree exactly.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish-regex token counts, aggregated per lang."""
    ws_tokens = F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    regex_tokens = F.size(
        F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))
    )
    # subword estimate: BPE output length ≈ pre-tokens + long-word splits
    subword_est = F.ceil(F.length("text") / 4)
    per_doc = documents.select(
        "lang",
        ws_tokens.alias("ws_tokens"),
        regex_tokens.alias("regex_tokens"),
        subword_est.alias("subword_est"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("regex_tokens").alias("total_regex_tokens"),
        F.sum("subword_est").alias("total_subword_est"),
        F.round(F.avg("ws_tokens"), 4).alias("avg_ws_tokens"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of the lowercase alnum-collapsed text.

    Robust to whitespace/punct edits — the cheap canonical-form dedup key
    (content-defined analog of a rolling hash at this granularity).
    """
    canon = F.lower(F.regexp_replace("text", r"[^A-Za-z0-9]", ""))
    return documents.select(
        "doc_id",
        "lang",
        F.md5(canon).alias("fingerprint"),
    )


def top_terms_per_lang(documents: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per language by document frequency — the grouped-map
    (``applyInPandas``) UDF shape: whole-group fan-in, per-group pandas.

    Scale note: groups are languages (few, large) — at 10^12 rows the
    per-lang group would exceed one executor, so the production form is
    a two-phase agg (explode→groupBy(lang,term)→window top-k, all
    JVM-side).  This operator exists to exercise and pin the grouped-map
    path; the oracle proves the pandas fan-in computes exactly what the
    relational form would.
    """
    import pandas as pd

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        lang = pdf["lang"].iloc[0]
        df_counts: dict[str, set] = {}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            for term in set((text or "").lower().split(" ")):
                if term:
                    df_counts.setdefault(term, set()).add(doc_id)
        ranked = sorted(((len(v), t) for t, v in df_counts.items()),
                        key=lambda x: (-x[0], x[1]))[:k]
        return pd.DataFrame({
            "lang": [lang] * len(ranked),
            "term": [t for _n, t in ranked],
            "df": [n for n, _t in ranked],
            "rn": list(range(1, len(ranked) + 1)),
        })

    return documents.select("lang", "doc_id", "text").groupBy("lang") \
        .applyInPandas(topk, "lang string, term string, df long, rn int")


def top_terms_per_lang_relational(documents: DataFrame, k: int = 5
                                  ) -> DataFrame:
    """Top-k terms per language — the production (JVM-side) form.

    Two-phase plan: explode distinct terms per doc → groupBy(lang, term)
    count → window top-k.  No Python, no whole-language fan-in: the
    heavy aggregation keys on (lang, term) — millions of fine-grained
    groups that hash-partition evenly — and only the window ranking
    partitions by lang, over the already-tiny (lang, term, df) relation.
    This is the shape that survives 10^12 rows where the grouped-map
    twin (``top_terms_per_lang``, kept as the applyInPandas exerciser)
    would put an entire language on one executor (VERDICT.md
    scale-killer #2).  Same output, same oracle.
    """
    from pyspark.sql import Window

    terms = documents.select(
        "lang", "doc_id",
        F.explode(F.array_distinct(
            F.split(F.lower("text"), " "))).alias("term"),
    ).filter(F.col("term") != "")
    freq = terms.groupBy("lang", "term").agg(
        F.count("*").alias("df"))  # doc_ids are distinct per doc already
    w = Window.partitionBy("lang").orderBy(F.col("df").desc(), F.col("term"))
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("lang", "term", "df", "rn")
    )


_WINNOW_BASE = 257
_WINNOW_MOD = (1 << 61) - 1


def winnow_text(text: str, k: int = 8, w: int = 16) -> list[int]:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): rolling
    Rabin-Karp hashes of k-grams, min per w-window, dedup consecutive.

    Pure function — shared by the pandas UDF below and the unit tests'
    reference implementation checks.
    """
    import numpy as np

    codes = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if len(codes) < k:
        return []
    # k iterations of H = H*B + c (vectorized over every start position).
    n_pos = len(codes) - k + 1
    h = np.zeros(n_pos, dtype=np.object_)  # python ints: no mod overflow
    h[:] = 0
    for j in range(k):
        h = (h * _WINNOW_BASE + codes[j:j + n_pos]) % _WINNOW_MOD
    h = h.astype(np.int64)
    if n_pos <= w:
        return [int(h.min())]
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    mins = windows.min(axis=1)
    # robust winnowing: record each window-min once per run
    keep = np.concatenate([[True], mins[1:] != mins[:-1]])
    return [int(v) for v in mins[keep]]


@per_call_pandas_udf(ArrayType(LongType()))
def winnow_udf(texts: pd.Series) -> pd.Series:
    return texts.map(lambda t: winnow_text(t or ""))


def winnow_fingerprints(documents: DataFrame, k: int = 8, w: int = 16
                        ) -> DataFrame:
    """Per-document winnowed rolling-hash fingerprints + summary stats.

    At scale the exploded (fingerprint, doc_id) relation is the
    inverted index for partial-overlap detection (groupBy fingerprint →
    docs sharing any window); here we return per-doc stats the tests
    and the driver's rows-only check can pin.
    """
    fps = documents.select(
        "doc_id", "lang", winnow_udf("text").alias("fps")
    )
    return fps.select(
        "doc_id", "lang",
        F.size("fps").alias("n_fps"),
        F.size(F.array_distinct("fps")).alias("n_distinct_fps"),
        F.coalesce(F.array_min("fps"), F.lit(0)).alias("min_fp"),
    )


@per_call_pandas_udf(StringType())
def cleanup_markdown_udf(texts: pd.Series) -> pd.Series:
    """A16 cleanup chain as an Arrow-vectorized column transform."""
    from ..extractors.cleanup import clean_markdown_content

    return texts.map(lambda t: clean_markdown_content(t or ""))


def cleanup_chain(documents: DataFrame) -> DataFrame:
    """Reference cleanup chain over document text (rows-only check —
    Python-regex semantics are not expressible in DuckDB SQL)."""
    cleaned = documents.select(
        "doc_id", "lang", cleanup_markdown_udf("text").alias("_clean")
    )
    return cleaned.select(
        "doc_id", "lang",
        F.sha2("_clean", 256).alias("clean_sha256"),
        F.length("_clean").alias("clean_len"),
    )


def ngram_lm_score(documents: DataFrame, reference: DataFrame | None = None,
                   alpha: float = 0.5) -> DataFrame:
    """CCNet-style n-gram LM quality scoring, fully relational.

    CCNet buckets web documents by the perplexity of a KenLM 5-gram
    model trained on a trusted corpus; documents whose language-model
    score marks them as far from the reference distribution are the
    low-quality tail.  This is that pipeline's Spark-native shape with
    an add-alpha-smoothed **bigram** model (the model order is a knob,
    not the architecture):

    1. TRAIN — token and bigram counts over ``reference`` (default: the
       corpus itself, i.e. self-perplexity): two aggregations with
       map-side partial combine, shuffling only (gram, count) pairs.
    2. SCORE — every document's bigrams join the count relations
       (shuffles keyed on the gram — hash-distributed, no broadcast of
       the corpus-sized model) and the doc score is the mean negative
       log conditional probability

           -mean(ln((c(w1 w2) + alpha) / (c(w1) + alpha * V)))

       — lower is more reference-like.

    Everything is Catalyst expressions (``transform`` over the token
    array builds bigrams; no UDF), so TRAIN and SCORE both run at scan
    speed, and the arithmetic is exactly mirrored by the DuckDB oracle.
    Returns (doc_id, lang, n_bigrams, lm_score); single-token documents
    get NULL score (no bigrams — the caller's gate decides their fate,
    the scorer does not invent one).
    """
    reference = reference if reference is not None else documents

    toks, bigrams = space_tokens, bigram_array

    ref_toks = reference.select(toks(F.col("text")).alias("toks"))
    unigrams = (
        ref_toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1").agg(F.count("*").alias("c1"))
    )
    bigram_counts = (
        ref_toks.select(F.explode(bigrams("toks")).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("c2"))
    )
    # Vocabulary size stays a (broadcast) 1-row relation: collecting it
    # to a Python scalar would run an eager full reference aggregation
    # at plan-build time AND recompute the unigram agg for the join
    # (review r3) — the cross join keeps the whole plan lazy.
    vocab_rel = unigrams.agg(F.count("*").cast("double").alias("_v"))

    # explode_outer: zero-bigram documents keep their row (NULL bg) —
    # they come back with n_bigrams=0, lm_score NULL, never dropped and
    # never given an invented score.
    doc_bg = (
        documents.select("doc_id", "lang", toks(F.col("text")).alias("toks"))
        .select("doc_id", "lang",
                F.explode_outer(bigrams("toks")).alias("bg"))
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
    )
    scored = (
        doc_bg
        .join(bigram_counts, "bg", "left")
        .join(unigrams, "w1", "left")
        .crossJoin(F.broadcast(vocab_rel))
        .select(
            "doc_id", "lang",
            F.when(
                F.col("bg").isNotNull(),
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(F.col("c1"), F.lit(0))
                       + F.lit(alpha) * F.col("_v"))
                )
            ).alias("nll"),
        )
        .groupBy("doc_id", "lang")
        .agg(F.count("nll").alias("n_bigrams"),
             F.round(F.avg("nll"), 4).alias("lm_score"))
    )
    return scored


def lm_quality_buckets(documents: DataFrame, n_buckets: int = 3,
                       alpha: float = 0.5) -> DataFrame:
    """Per-language LM-perplexity quality buckets (the CCNet head /
    middle / tail split): rank documents by ``ngram_lm_score`` within
    each language and ntile into ``n_buckets``.

    The ntile order is (lm_score, doc_id) — total, so bucket assignment
    is deterministic and the DuckDB oracle reproduces it exactly.
    Scale note: the window partitions by lang; languages are few and
    the windowed relation carries only (doc_id, lang, score) — for a
    true mega-language the salted two-stage pattern in
    ``sampling.domain_cap`` applies, but a 3-int row stream through one
    task per language is sort-bound, not memory-bound, and ntile needs
    a global per-language rank by definition.
    """
    from pyspark.sql import Window

    scores = ngram_lm_score(documents, alpha=alpha)
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score"), F.col("doc_id"))
    return scores.filter(F.col("lm_score").isNotNull()).withColumn(
        "quality_bucket", F.ntile(n_buckets).over(w))


def lm_quality_buckets_scalable(documents: DataFrame, n_buckets: int = 3,
                                alpha: float = 0.5,
                                accuracy: int = 10_000) -> DataFrame:
    """Mega-language twin of ``lm_quality_buckets`` (same twin pattern
    as ``sampling.token_budget_select_bucketed``).

    Exact ntile puts a whole language through one window task.  This
    form computes per-language approximate quantile cutoffs with
    ``percentile_approx`` (a mergeable sketch — map-side partial
    aggregation, one tiny row per language out) and assigns each
    document's bucket by comparing its score to the broadcast cutoffs:
    fully partition-parallel, no per-language serialization.  Buckets
    converge to ntile's equal-count split as ``accuracy`` grows; the
    boundary documents may differ from exact ntile by one bucket (the
    usual sketch trade), which is why the exact form keeps the oracle
    and this form carries the scale.
    """
    scores = ngram_lm_score(documents, alpha=alpha) \
        .filter(F.col("lm_score").isNotNull())
    fracs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    cuts = scores.groupBy("lang").agg(
        F.percentile_approx("lm_score", fracs, F.lit(accuracy))
        .alias("cuts"))
    return (
        scores.join(F.broadcast(cuts), "lang")
        .withColumn(
            "quality_bucket",
            (F.lit(1) + F.size(F.filter(
                "cuts", lambda c: c < F.col("lm_score")))).cast("int"))
        .drop("cuts")
    )


def ngram_novelty(documents: DataFrame, reference: DataFrame,
                  text_col: str = "text",
                  key_col: str = "doc_id",
                  broadcast_ref: bool = True) -> DataFrame:
    """Bigram novelty vs a trusted reference corpus: the fraction of a
    document's word bigrams that never occur in the reference — high
    novelty flags content the reference distribution hasn't seen
    (new-domain gold or garbage; paired with a quality gate it is the
    classic diversity-vs-quality selection axis, the exact-match
    complement of DSIR's importance ratio).

    Fully relational: bigrams come from ``transform`` over an index
    ``sequence`` (JVM-side, no Python); the reference's DISTINCT
    bigram set broadcasts (a few million strings for a curated trusted
    corpus) and each doc bigram left-joins against it — the same
    broadcast shape as benchmark decontamination.  Docs with < 2
    tokens score null novelty (no bigrams), never a dropped row.

    ``broadcast_ref=False`` is the Wikipedia-scale fallback (~10^9
    distinct reference bigrams would blow any broadcast budget): the
    membership join shuffles instead, keyed on ``md5(bigram)`` so the
    exchange carries fixed 32-char hashes, never raw bigram strings —
    the same fallback contract as ``dedup.remove_duplicate_paragraphs``
    / ``remove_duplicate_spans``.  Identical results either way (md5
    collisions between distinct bigrams are ~2^-128 — the same
    assumption every md5-keyed dedup here makes).

    Returns ``(key, n_bigrams, n_novel, novelty)`` — novelty round 4.
    """
    from pyspark.sql.functions import broadcast

    def bigrams(col):
        toks = F.split(col, " ")
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                                   F.element_at(toks, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    join_key = "bg" if broadcast_ref else "bgh"

    def keyed(df, *extra):
        bg = F.explode(bigrams(F.lower(F.col(text_col)))).alias("bg")
        out = df.select(*extra, bg)
        if not broadcast_ref:
            # hash-first: the shuffle carries md5(bigram), not the string
            out = out.select(*extra, F.md5("bg").alias("bgh"))
        return out

    ref = keyed(reference).distinct().withColumn("_hit", F.lit(1))
    if broadcast_ref:
        ref = broadcast(ref)
    doc_bg = keyed(documents, key_col)
    flagged = (
        doc_bg.join(ref, join_key, "left")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
             .alias("n_novel"))
    )
    return (
        documents.select(key_col).join(flagged, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(F.col("n_bigrams").isNull(), F.lit(None))
            .otherwise(F.round(F.col("n_novel") / F.col("n_bigrams"), 4))
            .alias("novelty"),
        )
    )
