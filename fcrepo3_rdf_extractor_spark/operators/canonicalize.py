"""Entity canonicalization via a broadcast alias dictionary.

Fedora repositories accumulate alias URIs for the same entity (PID
renames, `fedora.example/` vs `info:fedora/` prefixes, datastream URIs
minted before/after percent-encoding fixes — the seed of this problem is
the reference's own token minting, `ObjectProcessor.java:293-341`).
Canonicalization maps every alias URI in subj/obj position (and
optionally pred) to its canonical form.

Physical plan: the dictionary is small relative to the triple stream
(millions of aliases vs trillions of triples), so each mapping is a
**broadcast hash join** — no shuffle of the triple stream at all. Three
left joins (subj, obj, pred) all reuse the same broadcast table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonicalize(
    triples: DataFrame,
    aliases: DataFrame,
    rewrite_predicates: bool = False,
) -> DataFrame:
    """Rewrite subj / obj-URI (and optionally pred) through the alias
    dictionary. ``aliases`` has columns (alias, canonical); unmatched
    terms pass through unchanged. Literal objects are never rewritten."""
    dict_df = F.broadcast(aliases.select("alias", "canonical"))

    out = (
        triples.join(dict_df.withColumnRenamed("canonical", "_c_subj"),
                     triples["subj"] == dict_df["alias"], "left")
        .drop("alias")
        .withColumn("subj", F.coalesce(F.col("_c_subj"), F.col("subj")))
        .drop("_c_subj")
    )
    dict_obj = F.broadcast(aliases.select(
        F.col("alias").alias("_a_obj"), F.col("canonical").alias("_c_obj")))
    out = (
        out.join(
            dict_obj,
            (out["obj_value"] == F.col("_a_obj")) & (~out["obj_is_literal"]),
            "left",
        )
        .withColumn("obj_value", F.coalesce(F.col("_c_obj"), F.col("obj_value")))
        .drop("_a_obj", "_c_obj")
    )
    if rewrite_predicates:
        dict_pred = F.broadcast(aliases.select(
            F.col("alias").alias("_a_pred"), F.col("canonical").alias("_c_pred")))
        out = (
            out.join(dict_pred, out["pred"] == F.col("_a_pred"), "left")
            .withColumn("pred", F.coalesce(F.col("_c_pred"), F.col("pred")))
            .drop("_a_pred", "_c_pred")
        )
    return out


def sameas_closure(sameas: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """owl:sameAs closure -> alias dictionary: connected components over
    the (undirected, possibly chained/cyclic) sameAs edge set, each
    entity mapped to its component's lexicographic-min URI. Raw sameAs
    assertions are NOT directly usable as a rewrite dictionary — they
    chain (x=y, y=z) and cycle; the closure is the fixpoint, computed by
    the same min-label propagation as doc dedup clustering (iterations
    bounded by chain length). Output: (alias, canonical), non-identity
    rows only — drop-in input for :func:`canonicalize`."""
    from .graph import connected_components

    comps = connected_components(sameas, src=a, dst=b)
    return comps.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("alias"), F.col("cluster_id").alias("canonical")
    )


def canonicalize_sameas(triples: DataFrame, sameas: DataFrame) -> DataFrame:
    """Entity resolution for the constructed graph: resolve the sameAs
    closure, then rewrite subj/obj through the resulting broadcast
    dictionary (two broadcast hash joins; the triple stream never
    shuffles)."""
    return canonicalize(triples, sameas_closure(sameas))


def fuzzy_entity_match(
    mentions: DataFrame,
    entities: DataFrame,
    max_distance: int = 2,
    block_len: int = 4,
    max_block: int = 10_000,
) -> DataFrame:
    """Blocked approximate entity matching: link dirty MENTION strings to
    a canonical entity registry by bounded edit distance — the
    entity-linking modality the exact paths (broadcast alias dictionary,
    owl:sameAs closure) cannot express: a mention with a typo, dropped
    character, or spacing difference matches no exact key.

    ``mentions``: (mention_id, mention); ``entities``: (entity_id, name).
    Returns (mention_id, entity_id, name, distance) — the single BEST
    match per mention (min distance, entity_id tiebreak — a total order,
    so the winner is the same on every engine and partitioning).
    Mentions with no candidate within ``max_distance`` produce no row
    (left-join against the output to find the unlinked residue).

    Scale shape — never all-pairs:

    - Candidate generation is MULTI-PASS BLOCKING (the record-linkage
      standard): both sides normalize (lowercase, strip non-alnum) and
      key by the normalized PREFIX and SUFFIX of ``block_len`` chars;
      a pair is a candidate if it shares either key. One edit inside the
      prefix still shares the suffix block and vice versa — only a
      mention corrupted at BOTH ends within ``block_len`` of each edge
      is missed (recall is tunable by block_len, the classic tradeoff).
    - Each side explodes to exactly 2 keyed rows; candidates come from a
      hash EQUI-join on the block key — a 10^9-mention corpus never sees
      a cartesian. AQE broadcasts the registry side when it is small.
    - Skew guard: a block shared by more than ``max_block`` entities is
      a degenerate key (boilerplate prefix — the ``info:fedora/`` of
      names) and is dropped from the ENTITY side before the join, the
      same df-bounding discipline as containment dedup; the count rides
      a window over the entity-key table only (registry-sized, never
      the mention stream).
    - The distance predicate uses Spark's bounded ``levenshtein(l, r,
      threshold)`` — computation aborts early once the running distance
      exceeds ``max_distance`` (O(len*k) not O(len^2)) and returns -1,
      which the filter drops.
    - Best-match is one ``min(struct(distance, entity_id, name))``
      partial aggregate keyed on mention_id (never a frankenrow, never
      a row_number window over the raw candidate stream); duplicate
      candidates from the two blocking passes collapse in the same agg,
      so no distinct shuffle is spent on pair dedup.
    """
    from pyspark.sql.window import Window

    def norm(col):
        return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")

    def keyed(df, name_col):
        n = norm(F.col(name_col))
        return (
            df.withColumn("_norm", n)
            .withColumn(
                "_key",
                F.explode(
                    F.array_distinct(
                        F.array(
                            F.substring(F.col("_norm"), 1, block_len),
                            F.substring(F.col("_norm"), -block_len, block_len),
                        )
                    )
                ),
            )
        )

    ent = keyed(
        entities.select("entity_id", "name"), "name"
    ).withColumnRenamed("_norm", "_norm_e")
    # df-bound: drop degenerate blocks (count rides one window over the
    # registry-side keyed table; <= 2 rows per entity by construction)
    ent = (
        ent.withColumn("_bsz", F.count(F.lit(1)).over(Window.partitionBy("_key")))
        .filter(F.col("_bsz") <= max_block)
        .drop("_bsz")
    )
    men = keyed(
        mentions.select("mention_id", "mention"), "mention"
    ).withColumnRenamed("_norm", "_norm_m")

    cand = men.join(ent, on="_key", how="inner")
    dist = F.levenshtein(F.col("_norm_m"), F.col("_norm_e"), max_distance)
    matched = cand.withColumn("_dist", dist).filter(F.col("_dist") >= 0)

    best = matched.groupBy("mention_id").agg(
        F.min(
            F.struct(
                F.col("_dist").cast("bigint").alias("distance"),
                F.col("entity_id"),
                F.col("name"),
            )
        ).alias("_best")
    )
    return best.select(
        "mention_id",
        F.col("_best.entity_id").alias("entity_id"),
        F.col("_best.name").alias("name"),
        F.col("_best.distance").alias("distance"),
    )


def canonicalize_prefixes(triples: DataFrame, prefix_map: dict[str, str]) -> DataFrame:
    """Unbounded-alias variant: rewrite URI *prefixes* purely with column
    expressions (no join, no broadcast, stays in whole-stage codegen).
    Applied to subj and non-literal obj."""

    def rewrite(col):
        expr = col
        for old, new in prefix_map.items():
            expr = F.when(
                col.startswith(F.lit(old)),
                F.concat(F.lit(new), F.substring(col, len(old) + 1, 2**31 - 1 - len(old))),
            ).otherwise(expr)
        return expr

    out = triples.withColumn("subj", rewrite(F.col("subj")))
    return out.withColumn(
        "obj_value",
        F.when(F.col("obj_is_literal"), F.col("obj_value")).otherwise(
            rewrite(F.col("obj_value"))
        ),
    )
