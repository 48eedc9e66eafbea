"""Deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame ops (JVM-side expressions; no Python UDFs):

- exact:        hash-groupBy on a content digest.
- word-set:     digest of the sorted distinct word set (cheap canonicalizer).
- minhash LSH:  word-shingle minhash signatures -> banded bucket join ->
                exact-Jaccard verification of candidates.  LSH only
                *generates* candidates; every emitted pair is exact-verified,
                so precision is 1 and recall is 1 - (1 - J^rows)^bands.
- simhash:      64-bit sign-aggregated word-hash fingerprint + banding for
                hamming-neighbor candidate pairs.
- embedding:    random-hyperplane LSH buckets -> exact cosine verification
                (see similarity.py for the cosine primitives).

This module owns the near-duplicate chain every near-dup operator composes:
``shingle_sets`` -> ``signatures`` -> ``band_rows`` / ``lsh_candidate_pairs``
-> ``verified_pairs`` for MinHash (dedup_minhash_lsh, corpus.py's keep-one
and its fingerprint store), and ``lag1_hamming`` for the lag-1 simhash
window (snapshot_dedup, snapshot_churn, corpus.py's snapshot stage).

Scale notes: the shuffles are (a) posexplode words -> per-doc window +
hash-set aggregation (bounded by word count; ships single words, then 8-byte
hashes), (b) band bucket self-join (AQE skew-join handles hot buckets),
(c) candidate-pair join back to the int64 hash sets.  At 10^12 docs the band
join is the hot spot — band count and rows-per-band trade recall against
candidate volume.  Both are module constants (``GEOMETRY``), because a
persisted fingerprint store's band hashes only match those of the geometry
they were written with; the store records it and refuses any other.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

# MinHash-LSH geometry of every near-dup path and of every fingerprint store
# (recorded in the store's params.json; a store written with another
# geometry is refused, its band hashes would silently match nothing)
NUM_PERM, BANDS, ROWS_PER_BAND = 64, 32, 2
GEOMETRY = {"num_perm": NUM_PERM, "bands": BANDS, "rows_per_band": ROWS_PER_BAND}
SHINGLE_K = 3  # word k-gram length of dedup_minhash_lsh (dedup_corpus: minhash_k)
SIMHASH_BITS, SIMHASH_BLOCKS = 64, 4


def _bit_lit(b: int):
    """Signed 64-bit literal with bit b set (bit 63 wraps to Long.MIN_VALUE)."""
    v = 1 << b
    if v >= 1 << 63:
        v -= 1 << 64
    return F.lit(v).cast("long")


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Group by exact content digest; keep the lowest id as canonical."""
    return (
        docs.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_word_set(docs: DataFrame) -> DataFrame:
    """Near-dup by identical (sorted, distinct) word set — order/duplication
    insensitive canonicalization."""
    sig = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))), " ")
    )
    return (
        docs.select("doc_id", sig.alias("sig"))
        .groupBy("sig")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Spread rows across the cluster before expensive per-row expressions —
    a single-file local input otherwise runs the whole stage on one task."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par, F.col(id_col))


def shingle_hash_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3, with_pos: bool = False
) -> DataFrame:
    """(doc_id, h: long) — one row per word-k-gram occurrence (NOT deduped;
    collect_set / min-aggregation downstream dedup as needed), each k-gram
    string-hashed ONCE with xxhash64.  ``with_pos=True`` adds the gram's
    1-based word position (``pos``) for span-level consumers.

    Built entirely from codegen operators: posexplode the split words, then
    window lead(w, 1..k-1) per doc reassembles the k-grams.  The previous
    array-transform formulation used a Catalyst higher-order-function lambda,
    which is interpreted per element AND gets inlined into downstream
    Generates, re-evaluating split() per element_at — O(words^2) per row
    (measured 2.5-4x slower at sf0.1).  The window needs the same doc_id
    hash partitioning the downstream aggregations need anyway, and it ships
    single words, not k-word strings, across the shuffle."""
    words = (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__words"),
        )
        .filter(F.size("__words") >= k)
    )
    pos = words.select("doc_id", F.posexplode("__words").alias("pos", "w0"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    grams = pos.select(
        "doc_id", "pos", "w0", *[F.lead("w0", j).over(win).alias(f"w{j}") for j in range(1, k)]
    )
    if k > 1:
        grams = grams.filter(F.col(f"w{k - 1}").isNotNull())
    gram = F.concat_ws(" ", *[f"w{j}" for j in range(k)])
    out_cols = ["doc_id"]
    if with_pos:
        # 1-based word position of the gram's first word
        grams = grams.withColumn("pos", F.col("pos") + F.lit(1))
        out_cols.append("pos")
    return grams.select(*out_cols, F.xxhash64(gram).alias("h"))


def shingle_sets(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc_id, sh: array<long>) — each document's xxhash64 k-gram hash set:
    the one table the signatures and both verify sides read."""
    return shingle_hash_rows(docs, text_col, id_col, k).groupBy("doc_id").agg(F.collect_set("h").alias("sh"))


def signatures(sets_: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — sig[p] = min over a document's shingle
    hashes of a 64-bit hash family, NUM_PERM members.

    Shape matters at scale: the family members are cheap fixed-width
    re-hashes of the already-computed shingle hash, and the mins are a single
    codegen'd hash aggregate over the exploded shingles — Catalyst
    higher-order-function lambdas are interpreted per element and were ~20x
    slower here."""
    aggs = [F.min(F.xxhash64(F.col("h"), F.lit(p))).alias(f"mh{p}") for p in range(NUM_PERM)]
    sigs = sets_.select("doc_id", F.explode("sh").alias("h")).groupBy("doc_id").agg(*aggs)
    return sigs.select("doc_id", F.array(*[f"mh{p}" for p in range(NUM_PERM)]).alias("sig"))


def band_rows(signed: DataFrame) -> DataFrame:
    """(doc_id, band, bh) — one row per LSH band, bh = xxhash64 of that
    band's signature slice.  Shared by the batch self-join path
    (lsh_candidate_pairs) and the incremental path (corpus.py), which joins
    a new batch's band rows against a PERSISTED history band table instead
    of self-joining the world."""
    return signed.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col("sig").getItem(b * ROWS_PER_BAND + r) for r in range(ROWS_PER_BAND)]).alias("bh"),
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def lsh_candidate_pairs(signed: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Band the signatures and self-join on (band, band-hash).

    ``max_bucket`` is the adversarial-skew valve: a band bucket holding n
    docs emits O(n^2) candidate pairs, so one degenerate bucket (boilerplate
    corpora, bot-generated near-identical pages) can dominate the whole job
    — at 10^12 docs a single 10^5-doc bucket is 5e9 pairs before distinct.
    With ``max_bucket`` set, buckets larger than the cap are DROPPED before
    the self-join (the bucket-size count is a window over the same
    (band, bh) partitioning the join shuffles on anyway, so it adds no
    exchange).  Recall cost is explicit and tiny: a true near-dup pair is
    lost only if EVERY band it collides on is degenerate — and a bucket past
    any sane cap (10^3-10^4) is near-identical text that exact/word-set
    dedup already collapses upstream.  Moderately hot buckets below the cap
    are AQE skew-join territory (the session enables skewJoin).  Default
    None preserves exhaustive semantics for oracle-checked runs."""
    banded = band_rows(signed)
    if max_bucket is not None:
        w = Window.partitionBy("band", "bh")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def verified_pairs(pairs: DataFrame, sets_a: DataFrame, sets_b: DataFrame, a: str, b: str, threshold: float) -> DataFrame:
    """(a, b, jaccard) — the (a, b) candidate ``pairs`` whose hash sets (a's
    from ``sets_a``, b's from ``sets_b``) have exact Jaccard >= threshold,
    rounded to 6dp.

    Jaccard on int64 shingle hashes equals Jaccard on k-gram strings modulo
    64-bit collisions (odds ~ shingles^2/2^64 per doc pair), and the verify
    joins ship 8 bytes per shingle instead of the full k-gram string — the
    dominant shuffle-bytes knob at scale."""
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    return (
        pairs.join(sets_a.select(F.col("doc_id").alias(a), F.col("sh").alias("_sa")), a)
        .join(sets_b.select(F.col("doc_id").alias(b), F.col("sh").alias("_sb")), b)
        .select(a, b, F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_minhash_lsh(
    docs: DataFrame,
    threshold: float = 0.6,
    cache_handle: list | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard >= threshold, candidates from
    minhash LSH over word 3-grams.  Output: (id_a, id_b, jaccard) with
    jaccard rounded to 6dp.

    Miss probability per true pair at J: (1 - J^ROWS_PER_BAND)^BANDS — with
    the module's 32 bands of 2 rows at J=0.6 that is ~6e-7.  ``max_bucket``
    drops degenerate band buckets before the self-join (see
    lsh_candidate_pairs) — the disclosed skew valve for boilerplate-heavy
    corpora.

    The per-doc shingle-hash-set table is persisted (it feeds three
    consumers); pass ``cache_handle=[]`` to receive the persisted DataFrame
    and ``unpersist()`` it after materializing the result — otherwise a
    long-lived session accumulates one cached table per call until executor
    storage evicts it.  The persist is lazy: within one action the first
    consumer stage populates the cache, with no extra blocking job.
    """
    from pyspark import StorageLevel

    # the per-doc hash-set table feeds three consumers (signature agg + both
    # sides of the verify join); cache it once instead of re-shingling 3x.
    # persist (recoverable lineage, spills to disk) rather than
    # localCheckpoint — localCheckpoint blocks live on executor-local storage
    # only, so an executor loss after it fails the job on a real cluster.
    # At cluster scale this is the persisted shingle/signature table a
    # production dedup pipeline keeps anyway — and it holds 8-byte hashes,
    # not k-gram strings.
    sets_ = shingle_sets(docs, "text", "doc_id", SHINGLE_K).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(sets_)
    cands = lsh_candidate_pairs(signatures(sets_), max_bucket=max_bucket)
    return verified_pairs(cands, sets_, sets_, "id_a", "id_b", threshold)


def duplicate_spans(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Cross-document repeated-span (substring-level) dedup: for each doc,
    the maximal word extents covered by k-grams that also occur in at least
    one OTHER document.  This is the span-removal companion to the
    document-level dedup suite — production training-data pipelines run it
    alongside MinHash/SimHash to strip boilerplate and quoted spans that
    document-level dedup can't see.

    Output: (doc_id, span_start, span_end, span_words, n_grams), positions
    1-based inclusive.  Two duplicated k-grams at positions p1 < p2 merge
    into one extent iff p2 <= p1 + k (their word coverage overlaps or is
    adjacent, so every word in [p1, p2+k-1] is covered by some duplicated
    gram).

    Scale shape — an indexed span pipeline, never all-pairs: (1) gram
    occurrences with positions from the shingle window (ships single words,
    then 8-byte hashes); (2) one hash aggregate by gram hash finds grams
    spanning >= 2 distinct docs (min(doc)!=max(doc) — no countDistinct);
    (3) a semi-join by hash keeps duplicated occurrences; (4) island-merge
    per doc is two windows + a hash aggregate, all on the same doc_id
    partitioning (one exchange).  Cost is linear in corpus grams + output
    linear in duplicated text volume.  64-bit gram-hash collisions can merge
    unrelated grams with odds ~ grams^2/2^64 — the same disclosed trade as
    the MinHash verify join.
    """
    grams = shingle_hash_rows(docs, text_col, id_col, k, with_pos=True)
    cross_doc = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h")
    )
    dup = grams.join(cross_doc, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(F.lit(1)).alias("_brk"),
    )
    run = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    islands = flagged.select("doc_id", "pos", F.sum("_brk").over(run).alias("_island"))
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_grams",
        )
    )


def strip_duplicate_spans(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """Rewrite each document with its cross-document duplicate spans removed
    — the removal step that consumes duplicate_spans in a training-data
    pipeline.  Output: (doc_id, clean_text, n_kept, n_removed); clean_text
    is the surviving words (original case) joined by single spaces, so
    whitespace is normalized but casing is not.  A fully-duplicated doc
    keeps zero words and is absent from the output (drop it); a doc with no
    duplicate spans passes through with n_removed = 0.

    Scale shape, zero Python and zero interpreted HOF lambdas: original-case
    words by posexplode; covered positions by exploding span ranges (volume
    = duplicated words only); one (doc_id, pos) anti-join; reassembly as ONE
    hash aggregate per doc — array_sort(collect_list(struct(pos, w))) then a
    codegen'd struct-field extract (GetArrayStructFields) + array_join — so
    each document's word array is built exactly once (O(W log W) sort, O(W)
    copies).  The previous full-frame window formulation attached the whole
    array to EVERY row before a row_number pick — O(W^2) UnsafeRow copies
    per doc, a scale-killer on book-length documents.  Everything is linear
    in corpus words + duplicated volume."""
    spans = duplicate_spans(docs, text_col, id_col, k)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    words = (
        _spread(docs, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "w"),
        )
        .withColumn("pos", F.col("pos") + F.lit(1))
    )
    kept = words.join(covered, ["doc_id", "pos"], "left_anti")
    # array_sort on struct arrays orders by fields in declaration order, so
    # (pos, w) sorts by the unique 1-based position; `_sw.w` is a codegen'd
    # GetArrayStructFields projection, not an interpreted lambda.
    cleaned = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("_sw"))
        .select(
            "doc_id",
            F.array_join(F.col("_sw.w"), " ").alias("clean_text"),
            F.size("_sw").alias("n_kept"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("_n_words"),
    )
    return cleaned.join(totals, "doc_id").select(
        "doc_id",
        "clean_text",
        F.col("n_kept").cast("long").alias("n_kept"),
        (F.col("_n_words") - F.col("n_kept")).cast("long").alias("n_removed"),
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """64-bit simhash: sign-aggregate the per-word xxhash64 bits.

    (doc_id, *carry_cols, simhash: long).  Explode distinct words -> one
    codegen'd hash aggregate with a vote column per bit (sum of +1/-1), then
    reassemble the fingerprint — interpreted per-element array lambdas don't
    scale.  ``carry_cols`` are doc-level columns (functionally dependent on
    the id) threaded through the vote groupBy — map-side partial aggregation
    means they add one value per doc per map task to the shuffle, which is
    cheaper than a separate join back to ``docs`` downstream."""
    words = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    carry = [F.col(c) for c in carry_cols]
    exploded = _spread(docs, id_col).select(
        F.col(id_col).alias("doc_id"), *carry, F.explode(words).alias("w")
    )
    hashed = exploded.select("doc_id", *carry_cols, F.xxhash64("w").alias("h"))
    # per bit, count ONES (bare bit extraction sums) plus one shared count;
    # the +1/-1 vote is recovered as vote>0 <=> 2*ones > n (ties -> bit 0).
    # The when/otherwise vote formulation generated ~3x slower codegen (bigger
    # compiled method + branchy inner loop) for identical fingerprints.
    one = F.lit(1).cast("long")
    aggs = [F.sum(F.shiftright("h", b).bitwiseAND(one)).alias(f"o{b}") for b in range(SIMHASH_BITS)]
    votes = hashed.groupBy("doc_id", *carry_cols).agg(F.count("*").alias("n"), *aggs)
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim.bitwiseOR(
            F.when(F.col(f"o{b}") * 2 > F.col("n"), _bit_lit(b)).otherwise(F.lit(0).cast("long"))
        )
    return votes.select("doc_id", *carry_cols, sim.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by block-banding the simhash into SIMHASH_BLOCKS
    blocks (pigeonhole: hamming <= blocks-1 guarantees one identical block),
    verified by exact popcount.  Output: (id_a, id_b, hamming)."""
    sh = simhash(docs)
    width = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << width) - 1
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask).cast("long")).alias("key"),
                    )
                    for b in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.block", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, ["block", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def lag1_hamming(sh: DataFrame, key_col: str) -> DataFrame:
    """The lag-1 simhash window: ``sh`` holds (key_col, doc_id, simhash,
    ...); one row out per snapshot with a predecessor in doc_id order
    within its key: (key_col, doc_id, the other columns of ``sh``, prev_id,
    hamming), hamming being the popcount of the two simhashes' xor.  One
    window exchange (partitionBy key), zero joins."""
    w = Window.partitionBy(key_col).orderBy("doc_id")
    carry = [c for c in sh.columns if c not in (key_col, "doc_id", "simhash")]
    hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.lag("simhash").over(w)))
    return sh.select(
        key_col, "doc_id", *carry, F.lag("doc_id").over(w).alias("prev_id"), hamming.alias("hamming")
    ).filter(F.col("prev_id").isNotNull())


def snapshot_dedup(docs: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Temporal (crawl-snapshot) dedup: within each ``source`` (the url or
    feed a document was crawled from), a snapshot whose simhash is within
    ``max_hamming`` bits of its IMMEDIATE predecessor in id order is a
    redundant re-crawl.  Output one row per redundant snapshot: (source,
    doc_id, prev_id, hamming).

    This is the linear-time temporal companion to ``simhash_near_pairs``:
    recrawl corpora are dominated by unchanged-page re-fetches, and comparing
    each snapshot only to its predecessor (lag-1 window) collapses them with
    ONE exchange (partitionBy key) and zero joins — no banding, no candidate
    self-join, no quadratic blowup when a url has 10^4 snapshots.  Lag-1
    semantics (vs comparing to the last *survivor*) is the standard
    collapse-unchanged-runs rule: inside a run of near-identical snapshots
    every element is within max_hamming of its neighbor, so the whole run
    after the first is flagged; a gradual-drift chain a->b->c where only
    adjacent pairs are near keeps nothing extra (b and c are both flagged) —
    the conservative choice for training-data dedup, and, unlike
    survivor-chaining, expressible as a pure window (sequential survivor
    state does not distribute).

    At 100 TB: one hash agg (simhash, map-side combined) + one window whose
    per-task state is a single previous row — no state proportional to
    snapshots-per-key.  Skewed keys (one url with millions of snapshots)
    serialize that key's window; if that bites, range-bucket the key by time
    slab first (boundary pairs lost at slab edges) — not done here because
    the window is O(1)-state streaming, not memory-bound.
    """
    lagged = lag1_hamming(simhash(docs, carry_cols=("source",)), "source")
    return lagged.filter(F.col("hamming") <= max_hamming)


def snapshot_churn(docs: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Per-source content-churn summary over consecutive snapshots: how many
    snapshot transitions exist, how many are redundant re-crawls (hamming <=
    max_hamming), the redundancy ratio, and the mean bit-churn.  Feeds
    recrawl-scheduling policy (stable urls -> crawl less often).  Same
    single-exchange kernel as snapshot_dedup; the rollup reuses the window's
    key partitioning so the groupBy adds no shuffle."""
    lagged = lag1_hamming(simhash(docs, carry_cols=("source",)), "source")
    red = F.when(F.col("hamming") <= max_hamming, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return lagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(red).alias("n_redundant"),
        F.round(F.sum(red).cast("double") / F.count(F.lit(1)), 6).alias("redundant_ratio"),
        F.round(F.avg(F.col("hamming").cast("double")), 6).alias("avg_hamming"),
    )
