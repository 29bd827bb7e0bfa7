"""Multimodal queries: binary payload metadata, REAL container decode
(BMP/WAV), frame sampling (large-scale-pipeline extension; see
operators/multimodal.py for the codec tiers).

The image/audio queries build genuine uncompressed containers from
document bytes and PARSE them back — so the mapInPandas hop exercises
a real bytes→pixels/samples path while staying exactly
oracle-checkable: the builder∘parser roundtrip is content-preserving,
and DuckDB replays the underlying byte arithmetic via ascii().
documents.text is ASCII, so utf-8 byte lengths equal char lengths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fuzzy_item_matching_spark.operators.multimodal import (
    with_bmp_payload,
    with_wav_payload,
    extract_audio_windows,
    extract_image_features,
    sample_frames,
    with_binary_payload,
)
from fuzzy_item_matching_spark.queries import query
from fuzzy_item_matching_spark.tables import load_table


@query("mm_binary_meta")
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata projection. Metadata lives in
    ordinary columns → prunable/filterable without touching payload
    bytes (the scan never deserializes media for metadata-only
    queries — the property that matters at 100 TB)."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


@query("mm_image_features")
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→pixels decode via mapInPandas: each document's bytes
    are packed into a genuine 24-bit BMP container (fixture builder,
    operators/multimodal.py:with_bmp_payload), and the extractor
    PARSES it — BM signature, BITMAPINFOHEADER geometry, padded-row
    strip — then reduces the pixel plane to sum/mean features. The
    oracle replays the builder∘parser roundtrip arithmetically:
    dimensions from the first two bytes, pixel sums from the tiled
    byte cycle, container size from the BMP stride formula. The
    plumbing is the at-scale shape: binary column through an Arrow
    batch iterator, fixed output schema, partition-parallel, payload
    bytes never shuffled."""
    d = with_bmp_payload(load_table(spark, sf_dir, "documents"))
    return extract_image_features(d, real_decode=True)


@query("mm_frame_sample")
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling index expansion (video decode prep): bounded
    posexplode per document — fanout is n_bytes/stride, JVM-side."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    meta = d.select("doc_id", F.col("media_meta.n_bytes").alias("n_bytes"))
    return sample_frames(meta)


@query("mm_audio_windows")
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL bytes→samples decode + per-32-sample-frame stats in ONE
    Arrow hop: each document's bytes are packed into a genuine
    RIFF/WAVE container (with_wav_payload) and the extractor PARSES it
    — signature check, word-aligned chunk walk, fmt validation, data
    extraction — before windowing (operators/multimodal.py). The
    one-to-many fan-out happens inside the Python batch so payload
    bytes never cross a shuffle; the output is keyed feature rows.
    Because the container roundtrip is sample-preserving, the oracle
    computes the identical window stats directly from the text bytes.
    """
    d = with_wav_payload(load_table(spark, sf_dir, "documents"))
    return extract_audio_windows(
        d.filter(F.length("text") > 0), real_decode=True
    )


@query("mm_phash_pairs")
def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs via perceptual average-hash — the standard
    image-dedup path a multimodal pipeline runs before training:
    REAL container decode (the BMP parser), 8×8 nearest-neighbor
    grayscale-channel sample, aHash bits (64·v > Σv — integer-exact,
    tie-free), then SimHash-style pigeonhole banding: 8 bands of
    8 bits guarantee recall for hamming ≤ 7, verified here at ≤ 6.
    Candidates come from a (band, chunk) equi-join, never all-pairs;
    the oracle replays decode-sample-hash-band end-to-end via ascii()
    byte arithmetic (the builder∘parser roundtrip is
    content-preserving, the mm_image_features property).

    Saturated chunks (e.g. 0xFF — all samples above the mean) bucket
    a constant fraction of the corpus, the quadratic hot-key failure
    mode at scale: hence the same df-pruning discipline as the
    similarity join's max_df_ratio (operators/similarity.py:219) —
    buckets holding > max(64, 5% of docs) members are dropped before
    the self-join, via the all-integer tie-free predicate
    20·df ≤ greatest(1280, n). The bucket whitelist is ≤ 8·256 rows
    by construction, so it broadcasts. Trade-off (documented, as for
    max_df): a pair whose ONLY matching band is saturated is missed —
    at 5 k docs that drops 3.5 M of 3.6 M candidate pairs while the
    survivor set keeps every structural collision pair.

    aHash is alignment-sensitive by design (byte-shifted variants
    hash apart — cropping/re-encoding robustness is what production
    pHash DCTs buy); on this fixture the survivors are structural
    byte-plane collisions."""
    d = with_bmp_payload(
        load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    from fuzzy_item_matching_spark.operators.multimodal import (
        extract_image_ahash,
    )

    feat = extract_image_ahash(d).persist()
    banded = feat.select(
        "doc_id", F.posexplode("chunks").alias("band", "chunk")
    )
    tot = feat.agg(F.count("*").alias("__n"))
    ok = (
        banded.groupBy("band", "chunk")
        .agg(F.count("*").alias("__df"))
        .crossJoin(F.broadcast(tot))
        .filter(20 * F.col("__df") <= F.greatest(F.lit(1280), F.col("__n")))
        .select("band", "chunk")
    )
    pruned = banded.join(F.broadcast(ok), ["band", "chunk"])
    cand = (
        pruned.alias("x")
        .join(pruned.alias("y"), ["band", "chunk"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    a = feat.select(F.col("doc_id").alias("id_a"), F.col("chunks").alias("__ca"))
    b = feat.select(F.col("doc_id").alias("id_b"), F.col("chunks").alias("__cb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.aggregate(
                F.zip_with(
                    "__ca", "__cb",
                    lambda x, y: F.bit_count(x.bitwiseXOR(y)),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


_SC_FRAME = 32  # bytes per synthetic frame (mm_audio_windows' stride)
_SC_TAU = 96  # |Δ signature| scene-cut threshold


@query("mm_scene_cuts")
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection over the synthetic frame stream —
    the shot-segmentation step a multimodal curation pipeline runs
    before sampling frames for captioning: per document the payload
    bytes split into {f}-byte frames (mm_audio_windows' stride), each
    frame reduces to an integer signature, a cut fires where the
    frame-to-frame signature jump exceeds {t} (LAG window), and
    consecutive frames between cuts merge into SCENES (running-sum
    scene ids — the gaps-and-islands discipline). Output one row per
    scene: (doc_id, scene_id, start_frame, n_frames, scene_sig).

    With a real codec the signature would be a perceptual frame hash
    (mm_phash_pairs' aHash) fed by the decoder tier — the Spark-side
    plumbing (frame fanout, per-frame reduce, LAG diff, island merge)
    is identical and is what this query pins.

    Scale shape: frame fanout is a bounded posexplode (n_bytes/{f}
    per doc); signatures are one map-side-combinable groupBy; the LAG
    + running-sum windows shuffle once on doc_id; scene assembly is a
    second combine. Integers end-to-end — exact oracle."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    frames = d.select(
        "doc_id",
        "text",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(floor((length(text) - 1) /"
                f" {_SC_FRAME}.0) as int)), x -> x)"
            )
        ).alias("__p", "win"),
    )
    bytes_ = frames.select(
        "doc_id",
        "win",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, least({_SC_FRAME},"
                f" length(text) - win * {_SC_FRAME})),"
                f" i -> ascii(substring(text, win * {_SC_FRAME} + i, 1)))"
            )
        ).alias("__q", "v"),
    )
    sig = bytes_.groupBy("doc_id", "win").agg(F.sum("v").alias("sig"))
    dw = Window.partitionBy("doc_id").orderBy("win")
    cuts = sig.withColumn(
        "is_cut",
        F.when(F.lag("sig").over(dw).isNull(), 1)
        .when(F.abs(F.col("sig") - F.lag("sig").over(dw)) > _SC_TAU, 1)
        .otherwise(0),
    )
    scenes = cuts.withColumn(
        "scene_id",
        F.sum("is_cut").over(
            dw.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return scenes.groupBy("doc_id", "scene_id").agg(
        F.min("win").alias("start_frame"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("sig").alias("scene_sig"),
    )


mm_scene_cuts.__doc__ = mm_scene_cuts.__doc__.format(
    f=_SC_FRAME, t=_SC_TAU
)


@query("mm_image_resize")
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE (nearest-neighbor, 8×8 grayscale thumbnail) over
    the REAL BMP decode path — the brief's decode→resize tier as a
    materialized grid: the mapInPandas hop parses each container
    (header walk, padded-row strip) and resamples one blue-channel
    byte per target cell; output is the long-format thumbnail
    (doc_id, py, px, v) a multimodal feature store persists.
    extract_image_ahash consumes exactly this grid before hashing —
    here the resample itself is the product.

    Scale: decode is Arrow-batched and partition-local (no shuffle);
    fanout is a fixed 64 rows/doc. The oracle replays the builder∘
    parser roundtrip through integer ascii() arithmetic (the
    mm_phash_pairs sampling formula), so the REAL decode stays
    exactly checkable."""
    d = with_bmp_payload(
        load_table(spark, sf_dir, "documents").filter(
            F.length("text") > 0
        )
    )
    from fuzzy_item_matching_spark.operators.multimodal import (
        resize_image_nn,
    )

    return resize_image_nn(d)
