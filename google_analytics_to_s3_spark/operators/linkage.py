"""Entity resolution: blocked edit-distance fuzzy matching — the
record-linkage step a curation pipeline needs for author/source/entity
dedup where names differ by typos rather than exact or shingle-level
duplication (the gap between exact dedup and the MinHash/SimHash
families in ``operators/dedup.py``).

Method: multi-pass blocking (Hernández & Stolfo's merge/purge idea
adapted to hash blocks): every record lands in one block per pass —
pass 1 keys on the name's first ``k`` chars, pass 2 on its last ``k``
— then candidate pairs form ONLY within a block, and an exact
``levenshtein`` verify keeps pairs within the distance threshold. For
names longer than ``2 * block_chars`` a single edit
(insert/delete/substitute) cannot touch both key windows at once —
the prefix window covers positions 1..k and the suffix window the
last k characters, and an edit before the suffix window leaves those
last k characters unchanged — so any such pair within distance 1
shares at least one block. Shorter names offer no such guarantee (one
edit can corrupt both keys of a 4-char name); shrink ``block_chars``
or pre-filter short strings into an exact/enumerated path.

**Block purging** (Papadakis et al., "Blocking for Entity Resolution",
the standard defense): a block whose size exceeds ``max_block_size``
is discarded BEFORE the pair join — an oversized block is a
non-discriminative key (everyone named "john") whose candidate count
grows quadratically while its match yield stays near zero. Purging
bounds per-block pair work at max_block_size²; recall survives via the
OTHER pass (a record pair loses only if every shared block is purged).

Scale contract:
- only (id, name, block_key) rows shuffle; after purging, candidate
  pair work is ≤ n_blocks × max_block_size² — linear in blocks, never
  corpus²;
- the levenshtein verify runs native (JVM codegen) on candidates only;
- the purge itself is one hash aggregation on the block key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .partitioning import spread_if_narrow


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    max_dist: int = 1,
    block_chars: int = 4,
    max_block_size: int = 50,
) -> DataFrame:
    """(id_a, id_b, name_a, name_b, dist) for all pairs with
    levenshtein(name_a, name_b) <= ``max_dist`` that share a surviving
    prefix or suffix block; id_a < id_b, each pair reported once."""
    norm = F.lower(F.col(name_col))
    base = df.select(F.col(id_col).alias("_id"), norm.alias("_nm"))
    keyed = base.select(
        "_id",
        "_nm",
        F.explode(
            F.array(
                F.concat(F.lit("p:"), F.substring("_nm", 1, block_chars)),
                F.concat(
                    F.lit("s:"),
                    F.substring("_nm", -block_chars, block_chars),
                ),
            )
        ).alias("_blk"),
    )
    ok_blocks = (
        keyed.groupBy("_blk")
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") <= max_block_size)
        .select("_blk")
    )
    keyed = keyed.join(ok_blocks, "_blk")
    l = keyed.select(
        F.col("_id").alias("id_a"),
        F.col("_nm").alias("name_a"),
        "_blk",
    )
    r = keyed.select(
        F.col("_id").alias("id_b"),
        F.col("_nm").alias("name_b"),
        "_blk",
    )
    cand = (
        l.join(r, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("_blk")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)


def fs_field_u(df: DataFrame, field: str) -> "tuple[int, int]":
    """Fellegi-Sunter u-probability numerator/denominator for one
    field: the probability two RANDOM records agree on it, estimated
    from the value-frequency distribution — ``sum c_v*(c_v-1)`` over
    ``n*(n-1)`` (without-replacement pairing). Returned as the exact
    integer rational so the caller (and any SQL oracle) performs the
    ONE double division identically. NULL field values form their own
    agreement class, same as the scorer's null-safe equality."""
    row = (
        df.groupBy(field)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).alias("num"),
            F.sum("c").alias("n"),
        )
        .first()
    )
    num, n = int(row["num"]), int(row["n"])
    if n < 2:
        raise ValueError(f"u-probability needs >= 2 rows, got {n}")
    return num, n * (n - 1)


def fs_field_u_multi(
    df: DataFrame, fields: "list[str]"
) -> "dict[str, tuple[int, int]]":
    """All fields' u-probability rationals in ONE job (r13 opt).

    :func:`fs_field_u` costs one scan + two aggregations per field —
    a per-field driver action. Stacking the fields into (field, value)
    rows computes every field's ``sum c_v*(c_v-1)`` / ``n*(n-1)`` in a
    single pass with one small collect; values group by their exact
    string form (distinct values stay distinct under CAST to string
    for the string/integer fields this engine scores), and NULL keeps
    its own agreement class exactly as the per-field path. Returns the
    same exact integer rationals as ``{f: fs_field_u(df, f) for f}``.
    """
    stacked = df.select(F.explode(F.array(*[
        F.struct(
            F.lit(f).alias("_f"),
            F.col(f).cast("string").alias("_v"),
        )
        for f in fields
    ])).alias("_s")).select("_s._f", "_s._v")
    rows = (
        stacked.groupBy("_f", "_v")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_f")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1)).alias("num"),
            F.sum("c").alias("n"),
        )
        .collect()
    )
    out: dict[str, tuple[int, int]] = {}
    for r in rows:
        num, n = int(r["num"]), int(r["n"])
        if n < 2:
            raise ValueError(f"u-probability needs >= 2 rows, got {n}")
        out[r["_f"]] = (num, n * (n - 1))
    missing = set(fields) - set(out)
    if missing:
        raise ValueError(f"u estimation returned no rows for {missing}")
    return out


def fs_link_scores(
    records: DataFrame,
    block_col: str,
    fields: dict[str, float],
    u_probs: dict[str, "tuple[int, int]"],
    id_col: str = "id",
    threshold: float = 0.0,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over blocked
    candidate pairs (Fellegi & Sunter, JASA 1969 — the model behind
    Splink and every production probabilistic linker).

    ``fields`` maps field name -> assumed m-probability (the chance
    true duplicates agree on the field — a fixed model parameter);
    ``u_probs`` maps field name -> the exact (num, den) rational from
    :func:`fs_field_u`. Each candidate pair (same ``block_col`` value,
    ``id_a < id_b``) scores

        sum over fields of log2(m/u)        if the pair agrees
                          log2((1-m)/(1-u)) otherwise

    and pairs below ``threshold`` are dropped. Agreement is null-safe
    equality. Output: ``(id_a, id_b, score)`` + one ``agree_<field>``
    flag per field.

    Scale contract: pairs form ONLY within blocks (one equi-join on
    the block key), and blocks larger than ``max_block_size`` are
    purged before the join — same quadratic-blowup defense, same
    recall caveat as :func:`fuzzy_match_pairs`. The u estimation is
    two hash aggregations per field on the records table; m/u enter
    the pair projection as literals, so the score is a pure map-side
    expression on the joined candidates.
    """
    if set(fields) != set(u_probs):
        raise ValueError("fields and u_probs must cover the same keys")
    import math

    sides = []
    for side in ("a", "b"):
        sides.append(
            records.select(
                F.col(id_col).alias(f"_id_{side}"),
                F.col(block_col).alias("_blk"),
                *[
                    F.col(f).alias(f"_{f}_{side}")
                    for f in fields
                ],
            )
        )
    counts = records.groupBy(block_col).agg(
        F.count(F.lit(1)).alias("_bc")
    ).filter(F.col("_bc") <= max_block_size).select(
        F.col(block_col).alias("_blk")
    )
    # The block join broadcasts side b, so the quadratic pair expansion
    # + scoring runs at the STREAMED side's parallelism — on a narrow
    # scan (one unsplittable row group) that is one core for up to
    # n_blocks × max_block_size² pair-rows (input skew). Spread the
    # (id, block, fields) rows — never the pairs — across cores first.
    a = spread_if_narrow(sides[0], F.col("_id_a")).join(
        F.broadcast(counts), "_blk"
    )
    b = sides[1].join(F.broadcast(counts), "_blk")
    pairs = a.join(b, "_blk").filter(F.col("_id_a") < F.col("_id_b"))
    score = F.lit(0.0)
    agree_cols = []
    for f, m in fields.items():
        num, den = u_probs[f]
        u = num / den  # the one double division, mirrored in oracles
        if not (0.0 < u < 1.0 and 0.0 < m < 1.0):
            raise ValueError(f"degenerate m/u for field {f}: m={m} u={u}")
        agree = F.col(f"_{f}_a").eqNullSafe(F.col(f"_{f}_b"))
        w_agree = math.log(m / u) / math.log(2.0)
        w_disagree = math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)
        score = score + F.when(agree, F.lit(w_agree)).otherwise(
            F.lit(w_disagree)
        )
        agree_cols.append(agree.alias(f"agree_{f}"))
    return pairs.select(
        F.col("_id_a").alias("id_a"),
        F.col("_id_b").alias("id_b"),
        F.round(score, 6).alias("score"),
        *agree_cols,
    ).filter(F.col("score") >= threshold)
