"""SimHash (Charikar 2002) document sketches as built-in array expressions.

Per-token 60-bit hashes come from the first 15 hex chars of md5, converted
with base-16 ``conv`` — reproducible in any engine (the DuckDB oracle runs
an equivalent explicit base-16 fold), no dependence on either engine's
private hash function. Each of the 60 bit positions votes +1/-1 across the
document's distinct tokens; the sketch sets bit j where the vote is >= 0.

Scale: row-local (transform/aggregate over the token array) — a narrow map
stage, no shuffle. Near-dup candidates then come from hamming distance over
the sketch (bit_count(x ^ y)), joined on shared bit bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS = 60  # 15 hex chars < 2^63 — safe in signed 64-bit in both engines

_TOKENS_SQL = r"split(trim(regexp_replace(lower({text}), '\\s+', ' ')), ' ')"

_HASHES_SQL = (
    "transform(array_distinct({tokens}), "
    "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
)

# For each bit j: sum of (+1 | -1) votes over token hashes; set bit if >= 0.
_SKETCH_SQL = f"""
aggregate(
  sequence(0, {BITS - 1}),
  CAST(0 AS BIGINT),
  (acc, j) -> acc + IF(
      aggregate({{hashes}},
                CAST(0 AS BIGINT),
                (a, h) -> a + (CAST(shiftright(h, j) & 1 AS BIGINT) * 2 - 1)
      ) >= 0,
      shiftleft(CAST(1 AS BIGINT), j),
      CAST(0 AS BIGINT)))
"""


def simhash_expr(text_col: str) -> str:
    """The full SimHash SQL expression over a text column."""
    tokens = _TOKENS_SQL.format(text=text_col)
    hashes = _HASHES_SQL.format(tokens=tokens)
    return _SKETCH_SQL.format(hashes=hashes)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — 60-bit sketch per document."""
    from personal_data_lakehouse_spark.operators.partitioning import spread

    return spread(df).select(
        F.col(id_col), F.expr(simhash_expr(text_col)).alias("simhash")
    )


def simhash_neardup_pairs(
    df, text_col: str = "text", id_col: str = "doc_id",
    bands: int = 4, band_bits: int = 15, max_hamming: int = 8,
):
    """Near-duplicate pairs via SimHash banding + exact hamming verify.

    Standard simhash dedup (Manku et al., WWW'07 shape): two sketches
    within hamming distance h must share at least one of ``bands`` bit
    bands when bands > h — so the candidate join is an equi-join on
    (band index, band value), never a cross product. Exact
    bit_count(xor) then filters to ``max_hamming``.

    Scale: sketches are one 60-bit integer per doc (map-only); the band
    join shuffles (band, 15-bit value, id) tuples — uniform keys; the
    quadratic step is band-bucket-local.
    """
    from pyspark.sql import functions as F

    sk = simhash(df, text_col=text_col, id_col=id_col).persist()
    mask = (1 << band_bits) - 1
    banded = sk.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[
                (F.shiftright(F.col("simhash"), b * band_bits)
                 .bitwiseAND(F.lit(mask)))
                for b in range(bands)
            ])
        ).alias("band", "bandval"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bandval") == F.col("b.bandval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sk.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    sb = sk.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
