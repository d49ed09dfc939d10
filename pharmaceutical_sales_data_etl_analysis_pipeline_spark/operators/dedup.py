"""Deduplication operators over `documents` (north-star LLM-pipeline set):

- exact dedup: content-hash groupBy (bag in, one survivor per content);
- MinHash + LSH: shingle → per-seed min-hash signature → band → bucket
  join → candidate pairs (the scale path: candidates come from equi-joins
  on band keys, never a quadratic self-join);
- SimHash: 32-bit signature from per-word hash bit votes; near-dups by
  Hamming distance;
- n-gram Jaccard: exact set similarity via shingle equi-join (ground truth
  for the approximate methods on a bounded subset).

Engine-portable hashing: md5 (identical hex output in Spark and DuckDB), so
every signature is oracle-checkable bit-for-bit. At 100 TB the same plans
hold: explode(shingles) is linear, signatures are one hash-agg per doc,
LSH candidates are a shuffle join on band keys with AQE skew handling.
Reference parity: exact dedup generalizes LoadXML2DB.ChatterjeeP.R:112-135
(first-occurrence distinct-by-key at ingest).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .pin import pin
from .textops import ws_words_col
from ..functions.numeric import round_half_up

N_HASHES = 8  # minhash signature width
N_BANDS = 4   # 2 rows per band
SIMHASH_BITS = 32


# ---------------------------------------------------------------------------
# word / shingle extraction (shared): 3-word shingles over lowercased text
# ---------------------------------------------------------------------------

def with_words(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", ws_words_col(F.col("text")).alias("words")
    )


# The ONE 3-word-gram construction, shared by every shingle/gram consumer
# (minhash, ngram-jaccard, contamination, corpusops.repetition_ratio) —
# Spark expr + DuckDB twin live here so a tokenization tweak can't
# desynchronize the families.
GRAM_ARRAY_EXPR = (
    "CASE WHEN size(words) >= 3 THEN "
    "transform(sequence(1, size(words) - 2), "
    "          i -> concat_ws(' ', words[i-1], words[i], words[i+1])) "
    "ELSE array() END"
)


def gram_cte_sql(
    source: str = "documents", distinct: bool = True, alias: str = "shingle"
) -> str:
    """DuckDB CTE body `(doc_id, gram-or-shingle rows)` over `source`."""
    arr = (
        "CASE WHEN len(words) >= 3 THEN "
        "list_transform(range(1, len(words) - 1), "
        "i -> concat_ws(' ', words[i], words[i+1], words[i+2])) "
        "ELSE [] END"
    )
    if distinct:
        arr = f"list_distinct({arr})"
    return (
        f"  SELECT doc_id, unnest({arr}) AS {alias}\n"
        f"  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words\n"
        f"        FROM {source}) w"
    )


def with_shingles(documents: DataFrame) -> DataFrame:
    """doc_id, shingle (distinct 3-word shingles). Spark arrays are 0-based.
    The explode of an empty array emits no rows, so docs with <3 words drop
    out with no extra filter (a size()>0 pre-filter measured ~3x slower:
    project-collapse duplicates the transform into the filter)."""
    return (
        with_words(documents)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(GRAM_ARRAY_EXPR)
                )
            ).alias("shingle"),
        )
    )


SQL_SHINGLES_CTE = f"""
shingled AS (
{gram_cte_sql("documents", distinct=True)}
)
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy. Input is a bag (we simulate duplicates by
# unioning the corpus with itself — the reference's six overlapping XML
# loads produce exactly this shape, LoadXML2DB.ChatterjeeP.R:198..452).
# ---------------------------------------------------------------------------

def exact_dedup_stats(corpus: DataFrame) -> DataFrame:
    return (
        corpus.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bag = docs.unionByName(docs)  # duplicated corpus
    return exact_dedup_stats(bag)


SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) bag
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash signatures: h_k(doc) = min over shingles of md5(k || '|' || shingle).
# min() over strings is order-independent → deterministic at any parallelism.
# ---------------------------------------------------------------------------

def minhash_signatures(documents: DataFrame) -> DataFrame:
    """Explode + hash-aggregate: map-side partial min reduces the shuffle to
    one row per doc per partition. Hash budget: each md5 digest yields FOUR
    independent 32-bit components (8-hex-char slices; fixed-width lowercase
    hex makes lexicographic min = numeric min), so the 8-component signature
    costs 2 md5 calls per shingle, not 8 — measured ~1.5x faster end-to-end
    at sf0.1, identical statistical behavior at 32 bits/component. (An
    array-native transform/array_min variant measured ~8× slower — Spark
    higher-order functions are interpreted, codegen wins for hash-heavy
    inner loops; subexpression elimination computes each seed's md5 once
    across its four min() aggregates.)"""
    sh = with_shingles(documents)
    aggs = [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{k // 4}|"), F.col("shingle"))),
                1 + 8 * (k % 4),
                8,
            )
        ).alias(f"h{k}")
        for k in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents", spread=True))


def _minhash_sig_sql(source: str = "documents") -> str:
    """Signature SQL parameterized over the source relation — incremental
    variants pass a bag subquery instead of textually patching this string
    (a str.replace that stops matching would silently no-op)."""
    aggs = ",\n       ".join(
        f"min(substr(md5('{k // 4}|' || shingle), {1 + 8 * (k % 4)}, 8)) AS h{k}"
        for k in range(N_HASHES)
    )
    return f"""
WITH shingled AS (
{gram_cte_sql(source, distinct=True)}
)
SELECT doc_id,
       {aggs}
FROM shingled
GROUP BY doc_id
"""


SQL_MINHASH_SIGNATURES = _minhash_sig_sql()


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs: band the signature (2 rows/band), bucket-join
# on (band_idx, band_key), emit pairs once, attach estimated Jaccard =
# fraction of matching signature components.
# ---------------------------------------------------------------------------

def minhash_lsh_candidates(documents: DataFrame) -> DataFrame:
    """Band the signature (2 rows/band), bucket-join on (band_idx, band_key),
    dedup pairs. Each side of the join carries its full signature array, so
    est_jaccard is computed in the join projection — no extra signature
    joins, and signature building itself never shuffles. The only shuffles
    are the band equi-join and the pair distinct (AQE handles band skew)."""
    # r14 note (measured, kept UNPINNED): the band self-join consumes
    # `bands` on both sides, so the 8-component signature chain runs twice
    # per evaluation. A pin() of the (doc_id, sig) proxy was tried and
    # measured at three scales — 1.07x (sf0.1), 1.02x (sf1), 1.08x (sf10),
    # never a win: the two chain copies pipeline in parallel across cores
    # while the pin serializes on an eager materialization barrier, and
    # the cheap 2-md5/shingle chain never dominates the join+distinct.
    # Contrast simhash_near_dups, whose 64-vote chain is heavy enough that
    # the same pin measured 0.91x — these two decisions are a matched pair.
    sig = minhash_signatures(documents).select(
        "doc_id", F.array(*[F.col(f"h{k}") for k in range(N_HASHES)]).alias("sig")
    )
    band_exprs = ", ".join(
        f"{b} , md5(concat(sig[{b * 2}], sig[{b * 2 + 1}]))" for b in range(N_BANDS)
    )
    bands = sig.select(
        "doc_id", "sig", F.expr(f"stack({N_BANDS}, {band_exprs}) AS (band_idx, band_key)")
    )
    a, b = bands.alias("a"), bands.alias("b")
    matches = F.aggregate(
        F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            round_half_up(matches.cast("double") / N_HASHES, 4).alias("est_jaccard"),
        )
        .distinct()
    )


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_candidates(load_table(spark, sf_dir, "documents", spread=True))


def _minhash_lsh_sql() -> str:
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5(h{b*2} || h{b*2+1}) AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_HASHES)
    )
    return f"""
WITH sig AS ({SQL_MINHASH_SIGNATURES}),
bands AS (
{band_rows}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       floor((CAST(({match_sum}) AS DOUBLE) / {N_HASHES}) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON p.doc_a = sa.doc_id
JOIN sig sb ON p.doc_b = sb.doc_id
"""


SQL_MINHASH_LSH_CANDIDATES = _minhash_lsh_sql()


# ---------------------------------------------------------------------------
# Incremental near-dup: the daily-ingest shape — a NEW batch of documents
# checked against the EXISTING corpus (docs with doc_id < INCR_SPLIT stand
# in for the corpus, the rest for today's batch). Same banded equi-join as
# minhash_lsh_candidates but asymmetric: the batch side is broadcast, so
# the corpus side never shuffles — at 100 TB the corpus' band rows are a
# precomputed parquet table (signatures are ~100 bytes/doc) and each
# increment is one broadcast-join scan over it, not an all-corpus rebuild
# (here both sides derive from one signature pass for test hermeticity).
# ---------------------------------------------------------------------------

INCR_SPLIT = 400


def incremental_neardup(documents: DataFrame, split: int = INCR_SPLIT) -> DataFrame:
    # opt r14: `sig` feeds FOUR consumers below (corpus/batch bands,
    # corpus/batch signature fetches) — un-pinned, the signature chain ran
    # four times per evaluation. Same proxy-pin as minhash_lsh_candidates.
    sig = pin(
        minhash_signatures(documents).select(
            "doc_id", F.array(*[F.col(f"h{k}") for k in range(N_HASHES)]).alias("sig")
        ),
        "minhash_sig_incr",
    )
    band_exprs = ", ".join(
        f"{b} , md5(concat(sig[{b * 2}], sig[{b * 2 + 1}]))" for b in range(N_BANDS)
    )
    bands = sig.select(
        "doc_id", "sig", F.expr(f"stack({N_BANDS}, {band_exprs}) AS (band_idx, band_key)")
    )
    corpus = bands.select("doc_id", "band_idx", "band_key").filter(
        F.col("doc_id") < split
    ).alias("c")
    batch = bands.select("doc_id", "band_idx", "band_key").filter(
        F.col("doc_id") >= split
    ).alias("n")
    # distinct the pairs FIRST (a true near-dup collides in several bands),
    # then compare signatures once per pair — not once per shared band
    pairs = (
        corpus.join(
            F.broadcast(batch),
            (F.col("c.band_idx") == F.col("n.band_idx"))
            & (F.col("c.band_key") == F.col("n.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc"),
            F.col("c.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    # batch signatures are small (the daily delta) -> broadcast; the
    # pairs⋈batch-sig result is bounded by |pairs| (also small) -> broadcast
    # it into the one corpus-side signature join. The corpus signature
    # stream is never shuffled or broadcast.
    batch_sigs = sig.filter(F.col("doc_id") >= split).select(
        F.col("doc_id").alias("new_doc"), F.col("sig").alias("n_sig")
    )
    corpus_sigs = sig.filter(F.col("doc_id") < split).select(
        F.col("doc_id").alias("dup_of"), F.col("sig").alias("c_sig")
    )
    matches = F.aggregate(
        F.zip_with(F.col("n_sig"), F.col("c_sig"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        corpus_sigs.join(
            F.broadcast(pairs.join(F.broadcast(batch_sigs), "new_doc")), "dup_of"
        )
        .select(
            "new_doc",
            "dup_of",
            round_half_up(matches.cast("double") / N_HASHES, 4).alias("est_jaccard"),
        )
    )


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # seed the batch with guaranteed matches: the batch is the new tail of
    # the corpus PLUS re-submissions of 5 existing docs under new ids
    resub = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return incremental_neardup(docs.unionByName(resub))


def _incremental_sql() -> str:
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_idx, md5(h{b*2} || h{b*2+1}) AS band_key FROM sig"
        for b in range(N_BANDS)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_HASHES)
    )
    bag = """(SELECT * FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
              FROM documents WHERE doc_id < 5)"""
    sig_over_bag = _minhash_sig_sql(source=bag)
    return f"""
WITH sig AS ({sig_over_bag}),
bands AS (
{band_rows}
),
pairs AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS dup_of
  FROM bands c JOIN bands n
    ON c.band_idx = n.band_idx AND c.band_key = n.band_key
   AND c.doc_id < {INCR_SPLIT} AND n.doc_id >= {INCR_SPLIT}
)
SELECT p.new_doc, p.dup_of,
       floor((CAST(({match_sum}) AS DOUBLE) / {N_HASHES}) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON p.new_doc = sa.doc_id
JOIN sig sb ON p.dup_of = sb.doc_id
"""


SQL_INCREMENTAL_NEARDUP = _incremental_sql()


# ---------------------------------------------------------------------------
# SimHash (32-bit): per 3-word shingle, take the first 32 bits of
# md5(shingle) as an integer mask; bit j votes +1/-1 by mask bit j and the
# signature bit is the majority. Shingle features (not bare words) so
# documents sharing a vocabulary but not phrasing get distinct signatures.
# One md5 + one hex->int per shingle, then 32 codegen'd shift-and-mask
# vote sums — integer arithmetic only, portable across engines.
# ---------------------------------------------------------------------------

def simhash(documents: DataFrame) -> DataFrame:
    """Explode + 32 codegen'd per-bit vote sums (the md5/hex->int mask is
    evaluated once per shingle row by subexpression elimination); map-side
    partial aggregation keeps the shuffle at one row per doc per partition."""
    feats = with_shingles(documents)
    mask = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    bit_aggs = [
        F.sum(F.shiftright(mask, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = feats.groupBy("doc_id").agg(*bit_aggs)
    sig = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents", spread=True))


def _simhash_sql() -> str:
    vote_cols = ",\n         ".join(
        f"sum((((('0x' || substr(md5(shingle), 1, 8))::UBIGINT::BIGINT >> {j}) & 1) * 2 - 1)) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH {SQL_SHINGLES_CTE},
votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM shingled
  GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
FROM votes
"""


SQL_SIMHASH = _simhash_sql()


# ---------------------------------------------------------------------------
# SimHash near-dup pairs — the Manku et al. construction (WWW'07,
# "Detecting Near-Duplicates for Web Crawling"): 64-bit fingerprint,
# Hamming distance ≤ 3, candidate index = exact match on one of 4
# 16-bit blocks.
#
# r5 REDESIGN, from the measured sf0.1→sf1.0 scale ladder: the previous
# contract (32-bit signature, Hamming ≤ 6) is OUTPUT-quadratic — two
# random 32-bit fingerprints land within Hamming 6 at rate
# C(32,≤6)/2^32 ≈ 2.7e-4, so output grew 90× for 10× docs (4,136 →
# 373,646 rows; ~90% birthday-paradox noise, not near-dups) and
# candidates grew 97× (1.45M → 141.7M through the 8-bit band-pair keys).
# No plan can fix a contract whose answer set is Θ(n²). Manku et al.'s
# published answer is exactly this parameter move: longer fingerprints,
# tighter radius. At 64 bits / Hamming ≤ 3 the random-pair rate is
# C(64,≤3)/2^64 ≈ 2.4e-15 — zero noise pairs below ~10^7 docs, so the
# output is true near-dups only and scales linearly with the corpus.
#
# Exact recall by pigeonhole: ≤ 3 flips touch ≤ 3 of the 4 blocks, so at
# least one 16-bit block is intact on both docs. Each doc emits 4
# (block_idx, block_key) rows; candidates come from the equi-join on
# them (never a cartesian) and the exact Hamming check removes false
# positives. Random candidate rate 4/2^16 ≈ 6e-5 per pair — measured at
# sf1: ~0.08M candidate rows where the 32-bit band-pair index produced
# 141.7M. The fingerprint rides as two 32-bit halves (sim_lo, sim_hi)
# so every value stays inside non-negative signed-long range in BOTH
# engines — no unsigned-overflow edge at bit 63.
# ---------------------------------------------------------------------------

HAMMING_MAX = 3

# r6: the block partition is CORPUS-DERIVED (the r5 verdict's design
# debt — a fixed 4×16-bit split keys only 2^16 values, so random block
# collisions go quadratic past ~10^6 docs). Manku et al.'s general form:
# split the 64-bit fingerprint into B blocks; ≤3 flips touch ≤3 blocks,
# so any near-dup pair agrees exactly on SOME (B-3)-block combination —
# index every C(B,3) combination as one packed equi-join key. Exact
# recall by pigeonhole at every B (hypothesis-tested); the all-pairs
# ORACLE is untouched because the output contract (Hamming ≤ 3) never
# mentions blocks — only the Spark physical plan moves with the corpus.
# Derivation (integer-only, one count() round-trip at build):
#   need(n) = min(ceil_log2(n) + 4, 52); B(n) = smallest config whose
#   WEAKEST key (64 minus the 3 widest blocks) has >= need(n) bits.
# Key width grows with log n, so random candidates per table stay
# <= n/16; table count C(B,3) is <= 560 (B=16, n ~ 2^48 — four orders
# past any real corpus). tests/test_lsh_derivation.py pins the ladder.
SIM_BLOCK_CONFIGS = (4, 5, 6, 8, 10, 16)
SIM_BITS_HEADROOM = 4
SIM64_BLOCKS = 4  # the driver-sf config (n <= 2^12): identical to r5


def _sim_ceil_log2(n: int) -> int:
    return (n - 1).bit_length() if n > 1 else 0


def sim_block_widths(b: int) -> list[int]:
    """Block i covers bits [offset_i, offset_i + width_i) of the 64-bit
    fingerprint, widths differing by at most 1 (wider blocks first)."""
    return [64 // b + (1 if i < 64 % b else 0) for i in range(b)]


def sim_min_key_bits(b: int) -> int:
    """Width of the WEAKEST table key: 64 minus the 3 widest blocks."""
    ws = sorted(sim_block_widths(b), reverse=True)
    return 64 - sum(ws[:3])


def derive_sim_blocks(n: int) -> int:
    need = min(_sim_ceil_log2(n) + SIM_BITS_HEADROOM, sim_min_key_bits(SIM_BLOCK_CONFIGS[-1]))
    for b in SIM_BLOCK_CONFIGS:
        if sim_min_key_bits(b) >= need:
            return b
    return SIM_BLOCK_CONFIGS[-1]


def sim_key_tables(b: int) -> list[tuple[int, ...]]:
    """The C(b,3) kept-block combinations, lexicographic — table t's key
    is the packed concatenation of blocks in combination t."""
    import itertools

    return list(itertools.combinations(range(b), b - 3))


def simhash64(documents: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi): 64-bit SimHash as two 32-bit halves.
    Same vote construction as simhash(), with the mask widened to the
    first 16 hex chars of md5(shingle) — one md5 per shingle (subexpression
    elimination shares it across all 64 bit votes), map-side partial agg."""
    feats = with_shingles(documents)
    mask_lo = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    mask_hi = F.conv(F.substring(F.md5(F.col("shingle")), 9, 8), 16, 10).cast("long")
    bit_aggs = [
        F.sum(F.shiftright(mask_lo, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"lo{j}")
        for j in range(32)
    ] + [
        F.sum(F.shiftright(mask_hi, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"hi{j}")
        for j in range(32)
    ]
    votes = feats.groupBy("doc_id").agg(*bit_aggs)
    sig_lo = sum(
        F.when(F.col(f"lo{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(32)
    )
    sig_hi = sum(
        F.when(F.col(f"hi{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(32)
    )
    return votes.select(
        "doc_id",
        sig_lo.cast("long").alias("sim_lo"),
        sig_hi.cast("long").alias("sim_hi"),
    )


def simhash64_blocks(sig: DataFrame, blocks: int = SIM64_BLOCKS) -> DataFrame:
    """(doc_id, sim_lo, sim_hi, block_idx, block_key): C(blocks,3) rows
    per doc — table t's key packs the block values of kept-combination t
    into one BIGINT (<= 52 bits, so it stays a non-negative long). One
    stack() projection over shiftrightunsigned of the recombined 64-bit
    fingerprint — zero-shuffle key generation. blocks=4 reproduces the
    r5 plan's values exactly (each key = one 16-bit block)."""
    widths = sim_block_widths(blocks)
    offsets = [sum(widths[:i]) for i in range(blocks)]
    entries = []
    for t, combo in enumerate(sim_key_tables(blocks)):
        shift = 0
        parts = []
        for j in combo:
            parts.append(
                f"((shiftrightunsigned(sim64, {offsets[j]}) & {(1 << widths[j]) - 1}) * {1 << shift})"
            )
            shift += widths[j]
        entries.append(f"{t}, {' + '.join(parts)}")
    n_tables = len(entries)
    return sig.withColumn(
        "sim64", F.col("sim_lo").bitwiseOR(F.shiftleft(F.col("sim_hi"), 32))
    ).select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.expr(
            f"stack({n_tables}, " + ", ".join(entries) + ") AS (block_idx, block_key)"
        ),
    )


def _sim64_hamming() -> Column:
    return F.bit_count(
        F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))
    ) + F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))


def simhash_near_dups(documents: DataFrame, n_override: int | None = None) -> DataFrame:
    """EAGER at build: one count() round-trip derives the block partition
    (the kmeans_clusters pattern — registry eager-exec note). The OUTPUT
    contract (Hamming <= 3 pairs) is block-independent, so the all-pairs
    oracle needs no derivation twin; only the physical plan moves with
    the corpus. `n_override` exists for tests exercising a specific
    derivation rung on a tiny corpus."""
    n = documents.count() if n_override is None else n_override
    # opt r14 (guide §2.4 / §8): the block self-join consumes `keys` on
    # BOTH sides, and Spark re-derives common subtrees per consumer — the
    # un-pinned plan scanned documents and recomputed the full 64-vote
    # signature TWICE per evaluation. Pin the (doc_id, sim_lo, sim_hi)
    # relation (n rows x 3 longs — the lightweight proxy) so the corpus
    # is tokenized/hashed once; the zero-shuffle block-key projection is
    # re-expanded per side. Interleaved A/B 0.91x at sf0.1; at scale this
    # halves the dominant cost (two full corpus passes -> one).
    sig = pin(simhash64(documents), "sim64_sig")
    keys = simhash64_blocks(sig, derive_sim_blocks(n))
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _sim64_hamming().cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def simhash_near_dups_allpairs(documents: DataFrame) -> DataFrame:
    """Quadratic ground truth (test-side only — calibration for the blocked
    plan; identical output guaranteed by the pigeonhole argument above)."""
    sig = simhash64(documents)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _sim64_hamming().cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(load_table(spark, sf_dir, "documents", spread=True))


def _simhash64_sig_cte(source: str = "documents") -> str:
    """DuckDB CTEs ending in sig(doc_id, sim_lo, sim_hi) — the same
    64 bit votes from the first 16 hex chars of md5(shingle)."""
    vote_cols = ",\n         ".join(
        [
            f"sum((((('0x' || substr(md5(shingle), 1, 8))::UBIGINT::BIGINT >> {j}) & 1) * 2 - 1)) AS lo{j}"
            for j in range(32)
        ]
        + [
            f"sum((((('0x' || substr(md5(shingle), 9, 8))::UBIGINT::BIGINT >> {j}) & 1) * 2 - 1)) AS hi{j}"
            for j in range(32)
        ]
    )
    sig_lo = " + ".join(
        f"CASE WHEN lo{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END" for j in range(32)
    )
    sig_hi = " + ".join(
        f"CASE WHEN hi{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END" for j in range(32)
    )
    return f"""
shingled AS (
{gram_cte_sql(source, distinct=True)}
),
votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM shingled
  GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({sig_lo} AS BIGINT) AS sim_lo, CAST({sig_hi} AS BIGINT) AS sim_hi
  FROM votes
)"""


def _simhash_near_dups_sql(source: str = "documents") -> str:
    ham = "bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi))"
    return f"""
WITH {_simhash64_sig_cte(source)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({ham} AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE {ham} <= {HAMMING_MAX}
"""


SQL_SIMHASH_NEAR_DUPS = _simhash_near_dups_sql()


# ---------------------------------------------------------------------------
# Planted-pair variant: with the honest 64-bit/Hamming≤3 contract the
# natural corpus has ZERO qualifying pairs at sf0.01 (no noise pairs is
# the point of the redesign) — both engines agree on empty, but that
# driver evidence would be vacuous. Same remedy as
# embedding_near_dups_planted: UNION the corpus with DOC_PLANT_N exact
# copies of its first documents under shifted doc_ids, entirely in-plan
# on BOTH engines, so the identical block-index machinery provably
# catches each planted pair (Hamming 0) and the driver row is non-empty
# at every sf.
# ---------------------------------------------------------------------------

DOC_PLANT_N = 20
DOC_PLANT_OFFSET = 10_000_000  # clears any real doc_id at any tested sf


def _with_planted_docs(documents: DataFrame) -> DataFrame:
    base = documents.select("doc_id", "text")
    planted = documents.filter(F.col("doc_id") < DOC_PLANT_N).select(
        (F.col("doc_id") + F.lit(DOC_PLANT_OFFSET)).cast("long").alias("doc_id"),
        "text",
    )
    return base.unionByName(planted)


def q_simhash_near_dups_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dups(_with_planted_docs(load_table(spark, sf_dir, "documents", spread=True)))


_PLANTED_DOCS_SRC = (
    f"(SELECT doc_id, text FROM documents "
    f"UNION ALL "
    f"SELECT doc_id + {DOC_PLANT_OFFSET} AS doc_id, text FROM documents "
    f"WHERE doc_id < {DOC_PLANT_N}) AS planted_docs"
)

SQL_SIMHASH_NEAR_DUPS_PLANTED = _simhash_near_dups_sql(_PLANTED_DOCS_SRC)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over the full corpus (ground truth for MinHash):
# shingle equi-join → |A∩B|, sizes from per-doc counts, J = i/(a+b-i).
# Candidates come from the shingle equi-join (linear in shingle-collision
# volume, never all-pairs); the r2 doc_id<1000 cap was protection for the
# oracle only and is lifted in r3 (sf0.01 = 500 docs, cap was a no-op).
# ---------------------------------------------------------------------------

JACCARD_MIN = 0.05


def ngram_jaccard(documents: DataFrame) -> DataFrame:
    sh = with_shingles(documents)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = F.col("n_inter").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", round_half_up(j, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard(load_table(spark, sf_dir, "documents", spread=True))


SQL_NGRAM_JACCARD = f"""
WITH {SQL_SHINGLES_CTE},
sub AS (SELECT * FROM shingled),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sub GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sub a JOIN sub b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       floor((CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE floor((CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 >= {JACCARD_MIN}
"""


QUERIES = {
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_candidates": q_minhash_lsh_candidates,
    "simhash": q_simhash,
    "simhash_near_dups": q_simhash_near_dups,
    "simhash_near_dups_planted": q_simhash_near_dups_planted,
    "ngram_jaccard": q_ngram_jaccard,
    "incremental_neardup": q_incremental_neardup,
}

ORACLES = {
    "exact_dedup": SQL_EXACT_DEDUP,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_lsh_candidates": SQL_MINHASH_LSH_CANDIDATES,
    "simhash": SQL_SIMHASH,
    "simhash_near_dups": SQL_SIMHASH_NEAR_DUPS,
    "simhash_near_dups_planted": SQL_SIMHASH_NEAR_DUPS_PLANTED,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "incremental_neardup": SQL_INCREMENTAL_NEARDUP,
}


# ---------------------------------------------------------------------------
# MinHash estimator calibration (r3): |est - exact| Jaccard per LSH
# candidate pair, binned by exact Jaccard decile — the sign-off table for
# choosing N_HASHES/band geometry before a full-corpus dedup run. Exact
# Jaccard is computed ONLY for the candidate pairs (shingle equi-join +
# left-semi to the candidate set), so the calibration costs the same as
# candidate generation — never all-pairs. Error sums are 6dp decimals
# (exact, order-independent); one double division per bin at the end.
# ---------------------------------------------------------------------------


def minhash_calibration(documents: DataFrame) -> DataFrame:
    cand = minhash_lsh_candidates(documents)
    sh = with_shingles(documents)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    ).cast("double")
    exact = (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", round_half_up(jac, 4).alias("exact_j"))
    )
    pairs = cand.join(exact, ["doc_a", "doc_b"], "left").select(
        "est_jaccard", F.coalesce(F.col("exact_j"), F.lit(0.0)).alias("exact_j")
    )
    binned = pairs.select(
        F.floor(F.col("exact_j") * 10).cast("int").alias("jaccard_bin"),
        round_half_up(F.abs(F.col("est_jaccard") - F.col("exact_j")), 6)
        .cast("decimal(18,6)")
        .alias("err"),
    )
    n = F.count(F.lit(1)).cast("long")
    # conversion-exact integer-units sum (functions/numeric.money_sum
    # rationale): bins grow with candidate volume, so the decimal sum is
    # converted to double as one exact integer, never a scaled decimal
    err_units = (F.col("err") * F.lit(1_000_000)).cast("decimal(38,0)")
    return binned.groupBy("jaccard_bin").agg(
        n.alias("n_pairs"),
        round_half_up(
            F.sum(err_units).cast("double") / F.lit(1000000.0) / n.cast("double"), 6
        ).alias("mean_abs_err"),
    )


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_calibration(load_table(spark, sf_dir, "documents", spread=True))


SQL_MINHASH_CALIBRATION = f"""
WITH cand AS ({SQL_MINHASH_LSH_CANDIDATES}),
{SQL_SHINGLES_CTE.strip().rstrip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT i.doc_a, i.doc_b,
         floor((CAST(i.n_inter AS DOUBLE)
                / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)) * 10000.0 + 0.5)
           / 10000.0 AS exact_j
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
),
pairs AS (
  SELECT c.est_jaccard, coalesce(e.exact_j, 0.0) AS exact_j
  FROM cand c LEFT JOIN exact e ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
),
binned AS (
  SELECT CAST(floor(exact_j * 10) AS INT) AS jaccard_bin,
         CAST(floor(abs(est_jaccard - exact_j) * 1000000.0 + 0.5) / 1000000.0
              AS DECIMAL(18,6)) AS err
  FROM pairs
)
SELECT jaccard_bin,
       CAST(count(*) AS BIGINT) AS n_pairs,
       floor(CAST(sum(CAST(err * 1000000 AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0
             / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS mean_abs_err
FROM binned
GROUP BY jaccard_bin
"""

QUERIES["minhash_calibration"] = q_minhash_calibration
ORACLES["minhash_calibration"] = SQL_MINHASH_CALIBRATION


# ---------------------------------------------------------------------------
# Substring-level exact dedup (r5): the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" modality — repeated token
# spans of length >= SPAN_K ACROSS documents. Their single-node tool
# builds a suffix array; the distributed re-expression is k-gram
# fingerprinting: every document emits one fingerprint per SPAN_K-token
# window (md5 of the space-joined window), and a hash aggregation on the
# fingerprint finds every span occurring in >= 2 distinct documents. A
# maximal repeat of L >= SPAN_K tokens surfaces as its L - SPAN_K + 1
# constituent k-grams — recall is exact for spans >= SPAN_K by
# construction (no sampling, no LSH).
#
# 100 TB shape: the window explode is linear (one row per token position,
# 12-byte doc_id + 32-hex fingerprint after the md5 projection — the
# document text is NOT carried through the shuffle), and the groupBy is
# word-count-shaped with map-side partial aggregation on a uniform
# 128-bit key space. No suffix array, no driver-side state, no sort.
# Reference parity anchor: the reference dedups reps by first occurrence
# (LoadXML2DB.ChatterjeeP.R:67-86, row-level); this op extends the same
# exact-dedup contract below row granularity, per SURVEY §7's
# LLM-pipeline mandate.
# ---------------------------------------------------------------------------

SPAN_K = 8  # tokens per fingerprinted window


def substring_dedup_spans(documents: DataFrame, span_k: int = SPAN_K) -> DataFrame:
    toks = documents.select(
        "doc_id", ws_words_col(F.col("text")).alias("t")
    ).filter(F.size("t") >= span_k)
    # sequence(1, size-k+1) ascends because size >= k is pre-filtered
    # (sequence DESCENDS when end < start — the n=1 footgun)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {span_k} + 1),"
                f" i -> md5(encode(array_join(slice(t, i, {span_k}), ' '), 'UTF-8')))"
            )
        ).alias("fingerprint"),
    )
    return (
        grams.groupBy("fingerprint")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return substring_dedup_spans(load_table(spark, sf_dir, "documents", spread=True))


SQL_SUBSTRING_DEDUP_SPANS = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, md5(array_to_string(t[u.i:u.i + {SPAN_K} - 1], ' ')) AS fingerprint
  FROM toks, LATERAL unnest(generate_series(1, len(t) - {SPAN_K} + 1)) u(i)
  WHERE len(t) >= {SPAN_K}
)
SELECT fingerprint,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM grams
GROUP BY fingerprint
HAVING count(DISTINCT doc_id) >= 2
"""

QUERIES["substring_dedup_spans"] = q_substring_dedup_spans
ORACLES["substring_dedup_spans"] = SQL_SUBSTRING_DEDUP_SPANS
