"""Cross-modal PAIRED dedup — the (image, caption) decision matrix
(r12 verdict #4).

``training_corpus_pipeline_v6`` dedups modalities INDEPENDENTLY; real
multimodal training data is (text, image) PAIRS where the dedup
decision must consider both sides — the LAION-style curation rule
(Schuhmann et al. 2022 dedup by image fingerprint, DataComp and
successors refine with the caption side):

* same image + near-dup caption  -> DUPLICATE (drop one of the pair);
* same image + different caption -> KEEP BOTH (a re-captioned image is
  new supervision);
* different image + same caption -> KEEP BOTH (a stock caption over
  different images is new supervision);
* neither matches                -> never a candidate at all.

The operator composes the repo's existing building blocks — the REAL
PNG encode->decode->aHash chain (operators/multimodal.encode_png +
operators/image_hash.image_ahash) for the image side and the
inverted-index shingle machinery (operators/dedup.shingle_rows) for
the caption side — into one integer-exact decision table
(``doc_a, doc_b, same_image, cap_inter, cap_union, cap_match,
is_dup``) that a DuckDB oracle replays bit-for-bit
(plans/oracles.paired_crossmodal_oracle).

100 TB shape: the image side hashes once per DISTINCT image key
(broadcast-the-model: the per-key fingerprint table joins back
broadcast), image-equality blocking is ONE equality join on a 64-bit
fingerprint; hot fingerprints are the skew surface and
``max_image_df`` quarantines them from candidate generation exactly
like ``max_shingle_df`` quarantines boilerplate shingles on the
caption side.  The caption verify moves fixed-width (id, hash) rows
through the inverted index; candidate evaluation joins per-pair count
rows only — no pixel or caption text ever moves past its scan stage.

The reference engine (KSD-CO/excelstream) has no dedup surface; this
extends the LLM-pipeline family (SURVEY.md §2 extensions — the
brief's multimodal + dedup requirements).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from excelstream_spark.operators.dedup import shingle_rows
from excelstream_spark.scope import share


def paired_image_fingerprints(
    pairs: DataFrame,
    img_key_col: str = "img_k",
    id_col: str = "doc_id",
    image_synth=None,
) -> DataFrame:
    """(id_col, fp) — each pair's 64-bit image aHash, computed ONCE per
    distinct image key through the REAL chain (deterministic 8x8 APNG
    of the key: ``encode_apng`` -> stdlib chunk-walk/inflate/unfilter
    decode -> ``ahash_from_pixels`` on frame 0) and broadcast-joined
    back to the pairs (n_distinct_keys rows — the broadcast-the-model
    shape).  The fixture image is frame 0 of
    ``video.synthesize_video_payloads`` keyed on ``img_k`` — the 8x8
    quadratic-term arithmetic whose aHash patterns are genuinely
    key-varied (the 2x2 PNG fixture's hash space is ~16 values, which
    collapses every image class into a handful of quadratic candidate
    buckets — the 115-way-collision lesson from the image family) and
    whose fingerprint the established ``video_frame_fp_oracle``
    arithmetic replays from the key alone.

    ``image_synth`` swaps the key->image synthesizer (the _v6_core
    convention).  The ORACLE fixture above is dense BY DESIGN — its
    frame-0 aHash space is exactly 64 distinct values, which is right
    for a SQL-replayable hash gate at the catalog row's 50-key scale
    but makes fingerprint blocking QUADRATIC past ~10^2 distinct keys
    (measured: 282k colliding key-pairs at 5k keys -> 28.4M at 50k) —
    so the bench drift rung injects
    ``video.synthesize_diverse_video_payloads`` (md5 pixels,
    collision-free fingerprints; the video ladder's diverse-fixture
    rationale, caught when the first r13 rung run read drift 1.79
    SUPER-LINEAR)."""
    from excelstream_spark.operators.video import (
        synthesize_video_payloads,
        video_frame_fingerprints,
    )

    keys = pairs.select(
        F.col(img_key_col).cast("long").alias("doc_id")
    ).distinct()
    fps = (
        video_frame_fingerprints(
            (image_synth or synthesize_video_payloads)(keys)
        )
        .where(F.col("frame_idx") == 0)
        .select(
            F.col("doc_id").alias("_pifk"), F.col("fp_a").alias("fp")
        )
    )
    return pairs.select(id_col, img_key_col).join(
        F.broadcast(fps), F.col(img_key_col) == F.col("_pifk")
    ).select(id_col, "fp")


def paired_crossmodal_matrix(
    pairs: DataFrame,
    img_key_col: str = "img_k",
    caption_col: str = "caption",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_shingle_df: int | None = None,
    max_image_df: int | None = None,
    image_synth=None,
) -> DataFrame:
    """The paired-dedup DECISION MATRIX over (id, image key, caption)
    rows: every candidate pair — candidates come from EITHER side
    (image-fingerprint equality OR caption jaccard >= num/den) — with
    both criteria evaluated, integer-exact:

    - ``same_image``: the two pairs' aHashes are equal;
    - ``cap_inter`` / ``cap_union``: distinct k-shingle intersection /
      union sizes (0-sized caption sets allowed);
    - ``cap_match``: ``cap_inter * den >= cap_union * num`` AND
      ``cap_union > 0`` — a caption match needs evidence (two empty
      captions assert nothing, the langid no-grams convention);
    - ``is_dup``: ``same_image AND cap_match`` — the LAION rule's
      duplicate quadrant; the other two candidate quadrants are KEEPs
      the table makes auditable (an image-only dedup would flag the
      re-captioned quadrant, a caption-only dedup the re-imaged one —
      both falsified by the hash gate).

    ``max_image_df`` drops image-fingerprint buckets larger than the
    bound from candidate generation (hot-key quarantine; at corpus
    scale a boilerplate thumbnail would otherwise create one quadratic
    bucket), mirroring the caption side's ``max_shingle_df``."""
    base = pairs.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"),
        F.col(img_key_col).alias("_ik"),
        F.coalesce(F.col(caption_col), F.lit("")).alias("text"),
    )
    num, den = int(threshold_num), int(threshold_den)

    # persist the per-pair fingerprint table (r13 optimization): it
    # feeds FOUR subtrees (the hot-fp DF prune, its anti-join side and
    # both halves of the blocking self-join), and each broadcast build
    # otherwise re-runs the image synth+decode chain end-to-end.
    fps = share(
        paired_image_fingerprints(
            base, "_ik", "_pid", image_synth=image_synth
        ).select(F.col("_pid").alias("_fid"), "fp")
    )
    img_src = fps
    if max_image_df is not None:
        hot = (
            fps.groupBy("fp").count()
            .filter(F.col("count") > int(max_image_df))
            .select("fp")
        )
        img_src = fps.join(F.broadcast(hot), "fp", "left_anti")
    ia = img_src.select(F.col("_fid").alias("doc_a"), F.col("fp").alias("_fa"))
    ib = img_src.select(F.col("_fid").alias("doc_b"), F.col("fp").alias("_fb"))
    cand_img = ia.join(
        ib,
        (F.col("_fa") == F.col("_fb")) & (F.col("doc_a") < F.col("doc_b")),
    ).select("doc_a", "doc_b")

    rows = shingle_rows(base, "text", "_pid", k)
    if max_shingle_df is not None:
        hot_s = (
            rows.groupBy("s").count()
            .filter(F.col("count") > int(max_shingle_df))
            .select("s")
        )
        rows = rows.join(F.broadcast(hot_s), "s", "left_anti")
    rows = share(rows)
    sizes = rows.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sa = rows.select(F.col("id").alias("doc_a"), "s").alias("SA")
    sb = rows.select(F.col("id").alias("doc_b"), "s").alias("SB")
    shared = (
        sa.join(
            sb,
            (F.col("SA.s") == F.col("SB.s"))
            & (F.col("SA.doc_a") < F.col("SB.doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    shared = share(shared)
    cand_cap = (
        shared.join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "_na"), "doc_a")
        .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "_nb"), "doc_b")
        .where(
            F.col("inter") * F.lit(den)
            >= (F.col("_na") + F.col("_nb") - F.col("inter")) * F.lit(num)
        )
        .select("doc_a", "doc_b")
    )
    cand = cand_img.unionByName(cand_cap).distinct()

    m = (
        cand.join(shared, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("id").alias("doc_a"), F.col("n").alias("_sa")),
            "doc_a", "left",
        )
        .join(
            sizes.select(F.col("id").alias("doc_b"), F.col("n").alias("_sb")),
            "doc_b", "left",
        )
        .join(fps.select(F.col("_fid").alias("doc_a"), F.col("fp").alias("_fpa")), "doc_a")
        .join(fps.select(F.col("_fid").alias("doc_b"), F.col("fp").alias("_fpb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("_fpa") == F.col("_fpb")).alias("same_image"),
            F.coalesce(F.col("inter"), F.lit(0)).cast("long").alias("cap_inter"),
            (
                F.coalesce(F.col("_sa"), F.lit(0))
                + F.coalesce(F.col("_sb"), F.lit(0))
                - F.coalesce(F.col("inter"), F.lit(0))
            ).cast("long").alias("cap_union"),
        )
    )
    return m.select(
        "doc_a",
        "doc_b",
        "same_image",
        "cap_inter",
        "cap_union",
        (
            (F.col("cap_union") > 0)
            & (F.col("cap_inter") * F.lit(den) >= F.col("cap_union") * F.lit(num))
        ).alias("cap_match"),
        (
            F.col("same_image")
            & (F.col("cap_union") > 0)
            & (F.col("cap_inter") * F.lit(den) >= F.col("cap_union") * F.lit(num))
        ).alias("is_dup"),
    )


def paired_dedup_keep(pairs: DataFrame, matrix: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Survivor set under the matrix's duplicate quadrant: connected
    components over ``is_dup`` edges (the O(log n) star loop), min-id
    representative per cluster — every re-captioned / re-imaged KEEP
    quadrant pair survives intact."""
    from excelstream_spark.operators.components import connected_components

    edges = matrix.where(F.col("is_dup")).select("doc_a", "doc_b")
    comp = connected_components(edges, id_a="doc_a", id_b="doc_b")
    drop = (
        comp.withColumn(
            "_keep", F.min("id").over(Window.partitionBy("component"))
        )
        .where(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias("_drop"))
    )
    return pairs.join(
        drop, pairs[id_col] == F.col("_drop"), "left_anti"
    )
