"""Deduplication operators over the ``documents`` table.

Scale notes (the part that matters at 100 TB):
- **exact**: one shuffle on the content hash; map-side partial agg makes
  the shuffle carry (hash, partial-count), never text.
- **minhash-LSH**: shingle→minhash→band→bucket equi-join.  Work is
  O(n·k) for signatures + a shuffle keyed on (band, bucket-hash); only
  documents sharing a bucket are ever paired, so the quadratic blowup is
  confined to buckets (expected tiny under uniform hashing).
- **simhash**: 64-bit signature, candidate pairs via 4×16-bit band
  equi-join (any pair within Hamming distance 3 shares ≥1 exact band by
  pigeonhole), verified by popcount on the XOR.
- **ngram-jaccard**: exact verification op — blocked equi-join on cheap
  keys, array_intersect/array_union entirely JVM-side.

MinHash/SimHash signatures are computed in a vectorized pandas UDF
(Arrow-batched, numpy inner loop) — the sketch itself is not SQL; the
joins around it are plain relational ops Catalyst can reorder/broadcast.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .udf import per_call_pandas_udf

# MinHash parameters: 64 permutations, 8 bands × 8 rows.
N_PERM = 64
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
_MERSENNE = (1 << 61) - 1
# Deterministic permutation parameters (seeded, no wall clock).
_rng = np.random.RandomState(42)
_A = _rng.randint(1, _MERSENNE, size=N_PERM, dtype=np.int64)
_B = _rng.randint(0, _MERSENNE, size=N_PERM, dtype=np.int64)


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Word k-shingles → stable 61-bit hashes (md5-based, not PYTHONHASHSEED)."""
    toks = text.split()
    if len(toks) < k:
        shingles = [" ".join(toks)] if toks else [""]
    else:
        shingles = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    out = np.empty(len(shingles), dtype=np.int64)
    for i, s in enumerate(shingles):
        h = hashlib.md5(s.encode("utf-8")).digest()
        out[i] = struct.unpack("<q", h[:8])[0] & _MERSENNE
    return out


# DataType objects (not DDL strings): DDL parsing needs a live
# SparkContext, which doesn't exist when executors re-import this module.
@per_call_pandas_udf(ArrayType(LongType()))
def minhash_signature(texts: pd.Series) -> pd.Series:
    """64-permutation MinHash signature per text (vectorized batch)."""
    sigs = []
    for text in texts:
        hashes = _shingle_hashes(text or "")
        # (a*h + b) mod p for all perms × shingles; min over shingles.
        vals = (hashes[None, :] * _A[:, None] + _B[:, None]) % _MERSENNE
        sigs.append(vals.min(axis=1).tolist())
    return pd.Series(sigs)


@per_call_pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (md5-derived bit vectors)."""
    shifts = np.arange(64, dtype=np.uint64)
    out = []
    for text in texts:
        toks = (text or "").split()
        if not toks:
            out.append(0)
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = np.uint64(int.from_bytes(
                hashlib.md5(tok.encode()).digest()[:8], "little"))
            bits = ((h >> shifts) & np.uint64(1)).astype(np.int64)
            acc += bits * 2 - 1
        sig = int(((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
        out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)  # to signed
    return pd.Series(out, dtype="int64")


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup groups: content hash → group size + keeper doc_id.

    One hash-shuffle; text never crosses the exchange (md5 first).
    """
    return (
        documents
        .select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_keep_first(documents: DataFrame) -> DataFrame:
    """Keep exactly one row per distinct text (min doc_id wins)."""
    keepers = (
        documents.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return documents.join(keepers, "doc_id", "left_semi")


def dedup_keep_best(documents: DataFrame, quality_col: str,
                    group_expr=None) -> DataFrame:
    """Keep the BEST copy of each duplicate group, not the first: rank
    within the content-hash group by ``quality_col`` descending
    (doc_id ascending breaks ties deterministically) and keep rank 1.

    The curation nuance min-id keep-first misses: duplicate crawls of
    one page differ in extraction quality (truncation, boilerplate,
    encoding damage), and C4/RefinedWeb-style pipelines keep the
    longest / highest-scoring copy.  ``group_expr`` overrides the
    grouping key (default md5(text) — exact dup groups; pass a
    near-dup cluster id from ``connected_components`` to pick one best
    doc per NEAR-dup cluster).

    Plan: one aggregation keyed on the group (max_by — map-side
    partial combine, no window shuffle over full rows) + a semi-join
    back on doc_id.  Text never crosses the exchange: both sides of
    the aggregate carry only (hash, quality, id).
    """
    group = group_expr if group_expr is not None else F.md5("text")
    keyed = documents.select(
        group.alias("_g"), F.col(quality_col).alias("_q"), "doc_id")
    keepers = (
        keyed.groupBy("_g")
        .agg(F.expr("min_by(doc_id, struct(-_q, doc_id))").alias("doc_id"))
    )
    return documents.join(keepers.select("doc_id"), "doc_id", "left_semi")


def remove_duplicate_paragraphs(documents: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                sep: str = "\n",
                                min_docs: int = 2,
                                broadcast_dups: bool = True) -> DataFrame:
    """Corpus-level duplicate-paragraph removal (the C4 repeated-line
    rule / CCNet paragraph dedup): drop every paragraph that occurs in
    ``min_docs`` or more *distinct* documents — boilerplate ("share
    this article", cookie banners, nav footers) repeats across pages,
    body text does not.

    Relational end to end:

    1. ``posexplode(split(text, sep))`` → (doc, pos, para) — position
       is kept so the document reassembles in order;
    2. duplicate paragraphs by **md5 only**: the count groupBy carries
       a 32-char hash, never paragraph text, so the exchange is narrow
       (same hash-first shape as ``exact_duplicates``);
    3. anti-join paragraphs against the duplicate-hash set (broadcast
       when the boilerplate set is small — it usually is: boilerplate
       is by definition few distinct strings);
    4. reassemble: ``array_sort(collect_list(struct(pos, para)))`` →
       ``array_join`` — per-doc grouping, bounded by document size.

    Documents whose every paragraph was boilerplate come back with an
    empty string, not a missing row (no-silent-drop invariant).
    Returns (id_col, text_deduped, n_paras_kept, n_paras_dropped).
    ``sep`` is used both as the split regex and the rejoin literal, so
    pass a literal separator ("\\n").  ``broadcast_dups=False`` falls
    back to a shuffled join for a corpus whose duplicated-paragraph set
    is itself huge (e.g. mass spam) — same plan, bigger exchange.
    """
    paras = documents.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), sep))
        .alias("pos", "para"),
    ).withColumn("para_hash", F.md5("para"))

    # Blank/whitespace paragraphs trivially recur across documents but
    # are structure (markdown paragraph breaks), not boilerplate —
    # they are never dedup-eligible (review r3).
    dup_hashes = (
        paras.filter(F.length(F.trim("para")) > 0)
        .groupBy("para_hash")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("para_hash")
        .withColumn("_dup", F.lit(1))
    )
    if broadcast_dups:
        dup_hashes = F.broadcast(dup_hashes)
    flagged = paras.join(dup_hashes, "para_hash", "left")

    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_dup").isNull(),
                               F.struct("pos", "para")))),
                    lambda x: x["para"]),
                sep).alias("text_deduped"),
            F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0))
            .alias("n_paras_kept"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
            .alias("n_paras_dropped"),
        )
    )


def ngram_jaccard_pairs(documents: DataFrame, block: str = "minhash",
                        materialize: bool = True) -> DataFrame:
    """Exact word-3-gram Jaccard for blocked candidate pairs.

    ``block`` picks the candidate key the self-join shuffles on:

    - ``"minhash"`` (default): the min-md5 gram — a 1-permutation
      MinHash band.  Two docs collide with probability == their Jaccard
      similarity, so the key concentrates exactly the high-similarity
      pairs this operator exists to score, and hash values distribute
      uniformly (no skewable natural key).  Round 1 blocked on
      ``(lang, n_chars)``: exact char-count equality — skew-prone on
      synthetic/templated corpora and ~zero recall at scale (VERDICT.md
      scale-killer #3).  Still SQL-expressible, so the DuckDB oracle
      verifies the same key.
    - ``"length"``: the legacy (lang, n_chars) key, kept for comparison.
    - ``"none"``: unblocked within lang (small-data exact variant).

    This standalone operator remains the *verification* stage the
    multi-band LSH (``lsh_candidate_pairs``) feeds in
    ``neardup_pipeline``; one band trades recall for zero extra sketch
    state.

    The tokenization is projected ONCE (``toks``) before the gram
    transform — inlining ``split(text)`` in the lambda re-splits the
    text up to 3x per gram element (no CSE inside higher-order-function
    lambdas) — and the gram relation is persisted so the self-join
    doesn't rebuild it per side (caller owns the cache lifecycle; the
    relation is unpersisted by LRU or ``spark.catalog.clearCache``).
    """
    grams = documents.select(
        "doc_id", "lang", "n_chars",
        F.split("text", " ").alias("toks"),
    ).select(
        "doc_id", "lang", "n_chars",
        F.expr(
            # Guarded: size<4 would make sequence(0,-1) emit [0,-1] and
            # toks[-1] crash under ANSI (short real-world docs; the
            # committed testdata never goes below 10 tokens).
            "CASE WHEN size(toks) > 3 THEN"
            " transform(sequence(0, size(toks) - 4),"
            " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
            " ELSE array() END"
        ).alias("grams"),
    )
    if block == "minhash":
        grams = grams.withColumn(
            "band", F.array_min(F.transform("grams", lambda g: F.md5(g))))
    if materialize:
        grams = grams.persist()
    a = grams.alias("a")
    b = grams.alias("b")
    cond = [F.col("a.lang") == F.col("b.lang"),
            F.col("a.doc_id") < F.col("b.doc_id")]
    if block == "minhash":
        cond.append(F.col("a.band") == F.col("b.band"))
    elif block == "length":
        cond.append(F.col("a.n_chars") == F.col("b.n_chars"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.grams", "b.grams"))
                / F.size(F.array_union("a.grams", "b.grams")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) — the LSH bucketing relation.

    ``band_hash`` is 64-bit (``xxhash64``), not the 32-bit ``hash``:
    a persistent index at 10^12-doc scale holds ~10^13 band rows, and
    with 32-bit hashes every arrival would accumulate thousands of
    random single-band collisions with unrelated docs (birthday floor
    n/2^32) — paid for as candidate-join volume in
    ``incremental_dedup``.  xxhash64 cuts that floor by ~2^32 at zero
    algorithmic cost (same equi-join plan; the oracle pins bucket
    *pairings*, which only change if two distinct band slices collide).
    """
    sigs = documents.select("doc_id", minhash_signature("text").alias("sig"))
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}),"
                f" b -> xxhash64(slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND})))"
            )
        ).alias("band", "band_hash"),
    )


def _pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Bucket equi-join of a (doc_id, band, band_hash) relation →
    distinct candidate pairs."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            [F.col("a.band") == F.col("b.band"),
             F.col("a.band_hash") == F.col("b.band_hash"),
             F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(documents: DataFrame,
                        materialize: bool = True) -> DataFrame:
    """MinHash-LSH near-dup candidates: bucket equi-join, then distinct.

    The join is keyed on (band, band_hash) — a plain shuffle-hash join;
    no O(n²) anywhere.  Downstream verification: ngram_jaccard on the
    candidate set only.

    ``materialize`` persists the (doc_id, band, band_hash) relation
    before the self-join: without it both join sides re-run the MinHash
    UDF (the plan shows two ArrowEvalPython nodes) — doubling the sketch
    compute, the dominant cost at corpus scale.  The persisted relation
    is 3 small ints per band row, negligible next to the text column.
    The returned plan references the cached relation lazily, so the
    caller owns its lifecycle (``neardup_pipeline`` shows the
    checkpoint-then-unpersist pattern).
    """
    bands = minhash_bands(documents)
    if materialize:
        bands = bands.persist()
    return _pairs_from_bands(bands)


def neardup_pipeline(documents: DataFrame, jaccard_threshold: float = 0.8
                     ) -> DataFrame:
    """The production near-dup flow, composed end-to-end:

        MinHash-LSH candidates  →  exact 3-gram Jaccard on candidates only
        →  survivors (keep min doc_id per dup pair set)

    Verification cost is O(|candidates|), never O(n²): the Jaccard stage
    joins the gram relation to the candidate pair list instead of
    self-joining the corpus.  Returns the deduplicated corpus (one row
    per kept document).

    Cache lifecycle: the two persisted intermediates (bands, grams) are
    only needed up to the loser list; that list is tiny (doc_ids), so it
    is ``localCheckpoint``-ed eagerly and the caches released before
    returning — long-lived sessions don't accumulate sketch relations in
    executor storage (ADVICE.md round 1).
    """
    bands = minhash_bands(documents).persist()
    cand = _pairs_from_bands(bands)

    toks = documents.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select(
        "doc_id",
        F.expr(
            # Guarded: size<4 would make sequence(0,-1) emit [0,-1] and
            # toks[-1] crash under ANSI (short real-world docs; the
            # committed testdata never goes below 10 tokens).
            "CASE WHEN size(toks) > 3 THEN"
            " transform(sequence(0, size(toks) - 4),"
            " i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))"
            " ELSE array() END"
        ).alias("grams"),
    ).persist()

    verified = (
        cand
        .join(toks.select(F.col("doc_id").alias("doc_a"),
                          F.col("grams").alias("grams_a")), "doc_a")
        .join(toks.select(F.col("doc_id").alias("doc_b"),
                          F.col("grams").alias("grams_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("grams_a", "grams_b"))
            / F.size(F.array_union("grams_a", "grams_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    # drop the higher doc_id of every verified dup pair; materialize the
    # (tiny) loser list so the caches below it can be released now
    losers = (verified.select(F.col("doc_b").alias("doc_id")).distinct()
              .localCheckpoint(eager=True))
    bands.unpersist()
    toks.unpersist()
    return documents.join(losers, "doc_id", "left_anti")


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 3,
                       materialize: bool = True) -> DataFrame:
    """SimHash near-dup pairs via 16-bit band blocking + popcount verify.

    ``materialize`` persists the signature relation so the self-join
    doesn't run the SimHash UDF once per side (see lsh_candidate_pairs).
    """
    sigs = documents.select("doc_id", simhash64("text").alias("sig"))
    if materialize:
        sigs = sigs.persist()
    # 4 bands of 16 bits: Hamming ≤ 3 ⇒ at least one band identical.
    bands = sigs.select(
        "doc_id", "sig",
        F.posexplode(F.expr(
            "transform(sequence(0, 3),"
            " b -> (sig >> (b * 16)) & 65535)"
        )).alias("band", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, [F.col("a.band") == F.col("b.band"),
                   F.col("a.band_val") == F.col("b.band_val"),
                   F.col("a.doc_id") < F.col("b.doc_id")])
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def remove_duplicate_spans(documents: DataFrame,
                           n: int = 8,
                           min_docs: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           sep: str = " ",
                           keep_first: bool = False,
                           broadcast_dups: bool = True) -> DataFrame:
    """Corpus-level duplicated-substring removal (the ExactSubstr rule of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any word n-gram window that occurs in ``min_docs`` or more
    *distinct* documents is a duplicated span; every word covered by a
    duplicated window is cut, and the document is reassembled from the
    surviving words.  Sits between whole-document dedup
    (:func:`dedup_keep_first`) and paragraph dedup
    (:func:`remove_duplicate_paragraphs`) in granularity: it catches
    boilerplate that is *embedded mid-sentence* (injected ad sentences,
    templated lead-ins) which neither coarser rule sees.

    The paper builds a corpus-wide suffix array — a sequential,
    single-node structure that cannot shard.  The Spark-native shape is
    the windowed-hash MapReduce equivalent:

    1. windows: for each doc, starts ``0..len(words)-n`` with
       ``md5(array_join(slice(words, s+1, n)))`` — pure Catalyst
       projection, no shuffle, ~one row per word;
    2. duplicated hashes: ``groupBy(h).count_distinct(doc)`` — the one
       big exchange, and it carries (32-char hash, doc id) only, never
       text; partial distinct aggregation runs map-side;
    3. the duplicated-hash set is **tiny** relative to the corpus (most
       windows are unique), so the join back to window occurrences is a
       broadcast — the corpus-side windows never shuffle
       (``broadcast_dups=False`` falls back to a shuffled join for
       degenerate corpora where most windows are duplicated);
    4. covered word indices: explode ``sequence(start, start+n-1)`` over
       *flagged occurrences only* (bounded by n x duplicates, not corpus
       size), ``collect_set`` per doc — overlapping windows merge for
       free through the set;
    5. reassembly: one equi-join of ``documents`` against the <=1-row-
       per-doc removed-index relation, then a JVM-side
       ``filter(transform(words, (w, i) -> ...))`` mask — the full
       corpus never explodes to word granularity.

    ``keep_first=True`` applies the paper's keep-one-copy semantics: the
    globally-first occurrence of each duplicated window (min
    ``(doc, start)``) is retained, all others are cut.  Word indices
    covered by a canonical occurrence are *protected* in that document
    — another flagged window overlapping them cannot cut them — so
    every duplicated window is guaranteed at least one intact surviving
    copy even when overlapping windows have their canonical occurrences
    in different documents.  The default (``False``) is the C4-style
    drop-everywhere rule, matching :func:`remove_duplicate_paragraphs`.

    Documents shorter than ``n`` words produce no windows and pass
    through verbatim; every input row appears in the output
    (no-silent-drop invariant).  Returns
    (id_col, text_deduped, n_words_before, n_words_removed).
    ``sep`` is used both as the split *regex* and the rejoin literal
    (same contract as :func:`remove_duplicate_paragraphs`), so pass a
    literal separator — regex metacharacters like ``"|"`` would
    mis-tokenize.
    """
    words = F.filter(F.split(F.col(text_col), sep), lambda x: x != F.lit(""))
    docs_w = documents.select(F.col(id_col), words.alias("w"))
    # sequence(0, negative) would yield a *descending* sequence in Spark,
    # so short docs need an explicit empty-starts guard.
    starts = F.when(
        F.size("w") >= n, F.sequence(F.lit(0), F.size("w") - n)
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        docs_w.select(id_col, "w", F.explode(starts).alias("start"))
        .select(
            id_col,
            "start",
            F.md5(F.array_join(F.slice("w", F.col("start") + 1, F.lit(n)),
                               sep)).alias("h"),
        )
    )

    dup_h = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    if broadcast_dups:
        dup_h = F.broadcast(dup_h)
    flagged = wins.join(dup_h, "h").select(id_col, "start", "h")

    def _covered(df):
        # Duplicate (doc, idx) rows are fine: the final collect_set
        # dedups, and the keep_first anti-join is row-multiplicity
        # agnostic — so no distinct() (it would add an exchange).
        return df.select(
            id_col,
            F.explode(F.sequence(F.col("start"),
                                 F.col("start") + (n - 1))).alias("idx"),
        )

    if keep_first:
        # Keep the globally-first occurrence of each duplicated window:
        # min (doc, start) per hash.  Indices covered by a canonical
        # occurrence are protected in that doc — an overlapping flagged
        # window whose canonical copy lives elsewhere cannot cut them —
        # so at least one intact copy of every duplicated window
        # survives (review r3: without the protection, two overlapping
        # windows canonical in different docs could destroy each
        # other's kept copy).
        with_canon = flagged.join(
            flagged.groupBy("h").agg(
                F.min(F.struct(F.col(id_col).alias("i"),
                               F.col("start").alias("s"))).alias("c")),
            "h")
        is_canon = ((F.col(id_col) == F.col("c.i"))
                    & (F.col("start") == F.col("c.s")))
        protected = _covered(with_canon.filter(is_canon))
        removed_idx = _covered(with_canon.filter(~is_canon)).join(
            protected, [id_col, "idx"], "left_anti")
    else:
        removed_idx = _covered(flagged)

    removed = removed_idx.groupBy(id_col).agg(
        F.collect_set("idx").alias("rm"))

    rebuilt = (
        documents.select(id_col, words.alias("w"))
        .join(removed, id_col, "left")
        .withColumn("rm", F.coalesce("rm", F.array().cast("array<int>")))
    )
    # array_except is hash-set based: O(words + removed) per doc, vs the
    # O(words x removed) of an array_contains scan per word — the
    # difference matters on large heavily-duplicated documents.  It
    # preserves the left array's order, so indices stay sorted.
    kept_idx = F.when(
        F.size("w") > 0,
        F.array_except(F.sequence(F.lit(0), F.size("w") - 1), F.col("rm")),
    ).otherwise(F.array().cast("array<int>"))
    return rebuilt.select(
        id_col,
        F.array_join(
            F.transform(kept_idx, lambda i: F.element_at("w", i + 1)), sep)
        .alias("text_deduped"),
        F.size("w").alias("n_words_before"),
        F.size("rm").alias("n_words_removed"),
    )


def incremental_dedup(arrivals: DataFrame, corpus_bands: DataFrame,
                      min_band_hits: int = 2,
                      arrival_bands: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup screening: flag ARRIVING documents that
    LSH-collide with the already-curated corpus, without touching the
    corpus text.  Same ``(doc_id, text)`` contract as every dedup
    operator here; ``corpus_bands`` is ``minhash_bands`` output.

    At 10^12 rows you never re-dedup the whole corpus per crawl; you
    keep the MinHash band relation (3 small ints per band row) as a
    persistent index table and screen each arrival batch against it:

        arrivals → minhash (one Arrow pass over the batch only)
                 → equi-join on (band, band_hash) against the index
                 → per-(arrival, corpus-doc) band count
                 → flag at ``min_band_hits``

    The join shuffles the (small) arrival bands; the corpus index side
    is pre-bucketed by the same key in storage, so at scale this is a
    bucketed join with no index-side shuffle.  New snapshots extend
    the index by appending the surviving arrivals' band rows (the
    ``snapshot.commit_append`` path) — the index grows, the work per
    batch stays O(batch).

    **Why ≥2 bands from the SAME corpus doc** (review r3c): even with
    64-bit ``band_hash`` (xxhash64, round 4 — the 32-bit ``hash`` had
    a birthday floor of thousands of random single-band collisions per
    arrival at 10^12-doc index scale), a single band match is only
    ~2^-3 evidence of near-duplication under the 8-band/8-row scheme
    (one band agreeing happens at Jaccard ~0.5 with p≈0.03 per band).
    Two independent band matches against one doc are ~never random
    while an exact copy matches all 8 bands
    and a Jaccard-0.9 near-dup matches ≥2 of 8 with p≈0.93.  For
    J-threshold precision, feed the flagged pairs to
    ``ngram_jaccard_pairs`` exactly as ``neardup_pipeline`` does
    intra-corpus — this operator is the candidate screen.

    Returns every arrival row with ``is_dup_of_corpus``,
    ``n_corpus_hits`` (distinct corpus docs at ≥ min_band_hits bands)
    and ``dup_of`` (min such corpus id; null when none) — audit
    columns, no silent drops; callers filter and append.

    ``arrival_bands``: precomputed ``minhash_bands(arrivals)`` — pass
    it when the caller ALSO needs the band rows (the dedup-ingest loop
    appends survivors' bands to the index), so the Arrow signature
    pass over the batch text — the dominant per-batch cost — runs
    once, not twice (review finding).
    """
    if arrival_bands is None:
        arrival_bands = minhash_bands(arrivals)
    new_bands = arrival_bands.withColumnRenamed("doc_id", "_new")
    idx = (corpus_bands.select(F.col("doc_id").alias("_corpus"),
                               "band", "band_hash"))
    hits = (
        new_bands.join(idx, ["band", "band_hash"])
        .groupBy("_new", "_corpus")
        .agg(F.count("*").alias("_n_bands"))
        .filter(F.col("_n_bands") >= min_band_hits)
        .groupBy("_new")
        .agg(F.countDistinct("_corpus").alias("n_corpus_hits"),
             F.min("_corpus").alias("dup_of"))
    )
    return (
        arrivals.join(hits, arrivals["doc_id"] == hits["_new"], "left")
        .drop("_new")
        .select(
            *[F.col(c) for c in arrivals.columns],
            F.col("dup_of").isNotNull().alias("is_dup_of_corpus"),
            F.coalesce("n_corpus_hits", F.lit(0)).alias("n_corpus_hits"),
            "dup_of",
        )
    )
