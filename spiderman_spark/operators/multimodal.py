"""Multimodal column operators — image/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched ``mapInPandas`` stages.

The reference stores attachments as files on disk with a metadata row
(`/root/reference/SP/pipelines/pipelines_file.py`, `download.py:107-146`);
here bytes live inline as BinaryType next to their metadata (input_hint
shape), so decode / feature-extract / resize run *inside* the scan with no
side-channel I/O — the pattern that survives a 100 TB corpus: each task pulls
an Arrow batch of (bytes, meta), does vectorized numpy work, emits columns.

Availability in this sandbox: image decode/resize/features are REAL (pure
numpy codecs, spiderman_spark.imagecodec).  Audio decode and video frame
sampling need codec libraries this container lacks — those stages are STUBS:
the Spark plumbing (schema, batch shape, partitioning) is real and tested
with a deterministic fake payload generator, and the decode call raises
``NotImplementedError`` unless the caller opts into the fake
(``fake=True``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

IMAGE_STATS_DDL = (
    "image_id string, w int, h int, fmt string,"
    " mean_r double, mean_g double, mean_b double, brightness double,"
    " phash long"
)

RESIZE_DDL = "image_id string, bytes binary, w int, h int, fmt string"

FRAME_SAMPLE_DDL = "media_id string, frame_idx int, frame_bytes binary, w int, h int"

AUDIO_FEATURES_DDL = "media_id string, n_samples long, rms double, zero_crossings long"


def _resize_axis(a, out_n: int, axis: int):
    """One axis of the resize: block mean when shrinking (every source index
    lands in exactly one output bin → no bin is ever empty), nearest-index
    gather when growing (every OUTPUT index maps to a source index → no
    0-count NaN cells, the bug this replaces)."""
    import numpy as np

    n = a.shape[axis]
    if out_n == n:
        return a
    if out_n < n:
        bins = (np.arange(n) * out_n) // n
        starts = np.searchsorted(bins, np.arange(out_n))
        counts = np.diff(np.append(starts, n)).reshape(
            [-1 if i == axis else 1 for i in range(a.ndim)]
        )
        summed = np.add.reduceat(a, starts, axis=axis)
        return summed / counts
    idx = (np.arange(out_n) * n) // out_n
    return np.take(a, idx, axis=axis)


def _block_mean_resize(px, out_w: int, out_h: int):
    """Area-average resize, any size -> any size (per-axis down=mean, up=
    nearest; for pure downscale this equals the rectangular block mean since
    the row/column bin counts factorize)."""
    import numpy as np

    out = _resize_axis(px.astype(np.float64), out_h, 0)
    out = _resize_axis(out, out_w, 1)
    return np.clip(out, 0, 255).astype(np.uint8)


def image_stats(images: DataFrame) -> DataFrame:
    """Decode + per-channel means + brightness + recomputed phash.

    Input needs (image_id, bytes, fmt); output IMAGE_STATS_DDL."""
    import pandas as pd

    from .. import imagecodec as ic

    def stage(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = ic.decode(bytes(r.bytes), r.fmt)
                means = px.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        r.image_id, px.shape[1], px.shape[0], r.fmt,
                        float(means[0]), float(means[1]), float(means[2]),
                        float(means.mean()), ic.average_phash(px),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "fmt", "mean_r", "mean_g",
                         "mean_b", "brightness", "phash"],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(stage, IMAGE_STATS_DDL)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode → area-average resize → re-encode lossless rgb8."""
    import pandas as pd

    from .. import imagecodec as ic

    def stage(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = ic.decode(bytes(r.bytes), r.fmt)
                small = _block_mean_resize(px, out_w, out_h)
                rows.append((r.image_id, ic.encode_rgb8(small), out_w, out_h, "rgb8"))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(stage, RESIZE_DDL)


def _fake_frames(media_id: str, n_frames: int, w: int = 8, h: int = 8):
    """Deterministic fake video decoder: seeded gradient frames."""
    import hashlib

    import numpy as np

    seed = int(hashlib.md5(media_id.encode()).hexdigest()[:8], 16)
    rng = np.random.RandomState(seed)
    return [rng.randint(0, 256, size=(h, w, 3), dtype=np.int32).astype("uint8") for _ in range(n_frames)]


def sample_frames(
    media: DataFrame, every_nth: int = 10, max_frames: int = 4, fake: bool = False
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    STUB decode: no video codec ships in this container.  With ``fake=True``
    a deterministic generator stands in for the decoder so the Spark plumbing
    (explode-shaped output, schema, batching) is fully exercised; without it
    the stage raises NotImplementedError, marking the integration point for a
    real decoder (pyav/ffmpeg) on a production cluster."""
    import pandas as pd

    from .. import imagecodec as ic

    def stage(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if not fake:
                    raise NotImplementedError(
                        "video decode requires a codec library absent from "
                        "this environment; pass fake=True to exercise the "
                        "pipeline with deterministic synthetic frames"
                    )
                frames = _fake_frames(r.media_id, max_frames * every_nth)
                for i, fr in enumerate(frames[::every_nth][:max_frames]):
                    rows.append(
                        (r.media_id, i * every_nth, ic.encode_rgb8(fr),
                         fr.shape[1], fr.shape[0])
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_bytes", "w", "h"]
            )

    return media.select("media_id").mapInPandas(stage, FRAME_SAMPLE_DDL)


def audio_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """Audio feature extraction (rms, zero-crossing count).

    STUB decode, same contract as ``sample_frames``: deterministic fake
    waveform when ``fake=True``, NotImplementedError otherwise."""
    import pandas as pd

    def stage(batches):
        import hashlib

        import numpy as np

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if not fake:
                    raise NotImplementedError(
                        "audio decode requires a codec library absent from "
                        "this environment; pass fake=True to exercise the "
                        "pipeline with a deterministic synthetic waveform"
                    )
                seed = int(hashlib.md5(r.media_id.encode()).hexdigest()[:8], 16)
                wave = np.random.RandomState(seed).randn(4096)
                rows.append(
                    (
                        r.media_id,
                        len(wave),
                        float(np.sqrt((wave**2).mean())),
                        int((np.diff(np.sign(wave)) != 0).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "rms", "zero_crossings"]
            )

    return media.select("media_id").mapInPandas(stage, AUDIO_FEATURES_DDL)


def phash_neardup_pairs(
    images: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_bucket_rows: int | None = 8192,
    oversize_policy: str = "salt",
) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash banding:
    (id_a, id_b, hamming) with id_a < id_b and hamming <= ``max_hamming``.

    The 64-bit average-phash (imagecodec.average_phash, stored in the corpus
    per the input_hint schema) is split into ``bands`` slices; candidate
    pairs share at least one identical slice — by pigeonhole this is LOSSLESS
    for max_hamming < bands (a pair within the threshold cannot differ in
    every band), so unlike the probabilistic LSH paths this variant is exact
    while still never comparing all pairs.  Exact hamming verify
    (bit_count(xor)) runs on candidates only.  All JVM bitwise Column exprs
    inside codegen; one banded join is keyed by (band, phash slice) (tiny
    groups on non-degenerate corpora) and the pair stream itself is never
    shuffled (min-band exactly-once emission, no cross-band distinct).
    """
    from pyspark.sql import functions as F

    if 64 % bands != 0:
        # bands=3 would leave 64 - 3*21 = 1 top bit outside every band:
        # a pair differing only there would NEVER become a candidate —
        # silent recall loss, so reject instead
        raise ValueError(f"bands must divide 64 exactly (got {bands})")
    if max_hamming >= bands:
        # the pigeonhole guarantee (some band identical) needs strictly
        # fewer differing bits than bands; beyond it the operator is merely
        # probabilistic — legal, but never silent
        import warnings

        warnings.warn(
            f"phash_neardup_pairs: max_hamming={max_hamming} >= bands={bands} "
            "breaks the pigeonhole losslessness guarantee — pairs whose "
            "differing bits touch every band will be missed (probabilistic "
            "recall only); raise bands for exact results",
            stacklevel=2,
        )
    bits = 64 // bands
    mask = (1 << bits) - 1

    def slice_of(col, b):
        return F.shiftright(col, b * bits).bitwiseAND(F.lit(mask))

    # Min-band candidates (dedup.minband_pair_union): the minimum-shared-
    # band test reads the two phash longs the rows already carry, so no
    # cross-band `.distinct()` shuffle of the inflated pair stream is needed.
    from .dedup import minband_pair_union

    x = images.select(F.col(id_col).alias("id_a"), F.col(phash_col).alias("pa"))
    y = images.select(F.col(id_col).alias("id_b"), F.col(phash_col).alias("pb"))
    cand = minband_pair_union(
        x,
        y,
        lambda b: slice_of(F.col("pa"), b),
        lambda b: slice_of(F.col("pb"), b),
        bands,
        max_bucket_rows=max_bucket_rows,
        oversize_policy=oversize_policy,
        salt_col_a="id_a",
    ).select("id_a", "id_b", "pa", "pb")
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
