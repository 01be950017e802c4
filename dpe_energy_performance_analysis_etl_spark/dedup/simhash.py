"""SimHash (64-bit) near-duplicate detection.

simhash(doc) = for each bit j: sign of Σ_tokens (±1 by bit j of
xxhash64(token)); near-dups are pairs with small Hamming distance.

Implementation notes:
  - signatures via explode → ONE hash-aggregate with 64 bit-vote sum
    expressions: xxhash64 is computed once per token, the 64 lanes are
    constant-shift bit tests, and the shuffle key (doc id) is uniform.
    (A fold over the token array was 20× slower — it re-hashed every
    token once per lane.)
  - candidate pairs via the pigeonhole trick: split 64 bits into
    ``chunks`` pieces; any pair within Hamming distance < chunks must
    agree on ≥1 whole chunk, so an equi-join per chunk finds all of
    them — shuffle-bounded, never O(n²);
  - exact Hamming check via bit_count(a XOR b) on the candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dpe_energy_performance_analysis_etl_spark.operators.scaling import scan_fanout

from dpe_energy_performance_analysis_etl_spark.text import tokens_expr


def simhash_sig(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
    fanout: int | None = None,
) -> DataFrame:
    """(doc, simhash bigint) — ``bits``-wide SimHash of each document's
    token multiset. ``portable=True`` swaps xxhash64 for the rolling
    polynomial token hash (31 usable bits — ``bits`` must be ≤ 31) so
    the signature is replayable in portable SQL."""
    assert not (portable and bits > 31), "rolling hash yields 31 bits"
    if fanout is None:
        fanout = df.sparkSession.sparkContext.defaultParallelism
    df = scan_fanout(df, fanout)
    from dpe_energy_performance_analysis_etl_spark.dedup.minhash import rolling_shingle_hash

    h = rolling_shingle_hash(F.col("t")) if portable else F.xxhash64("t")
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens_expr(text_col)).alias("t")
    ).withColumn("h", h)
    votes = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("doc", sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """Pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.
    Requires max_hamming < chunks for the pigeonhole guarantee.
    ``portable=True`` (with ``bits`` ≤ 31) makes every hash decision
    replayable in portable SQL — the oracle-checked twin of the
    64-bit xxhash64 fast path."""
    assert max_hamming < chunks, "pigeonhole needs max_hamming < chunks"
    assert bits % chunks == 0, "bits must divide evenly into chunks"
    bits_per_chunk = bits // chunks
    sigs = simhash_sig(df, text_col, id_col, bits=bits, portable=portable)

    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright(F.col("simhash"), i * bits_per_chunk)
                .bitwiseAND(F.lit((1 << bits_per_chunk) - 1))
                .alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    chunked = sigs.select("doc", "simhash", F.explode(chunk_structs).alias("c")).select(
        "doc", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.chunk_val").alias("chunk_val")
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    return (
        a.join(b, on=["chunk", "chunk_val"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )
