"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Beyond-reference surface (BASELINE.json north star). Design for 100 TB:

* media bytes ride in a BINARY column next to a metadata struct — Spark's
  binaryFile source and parquet both handle this; predicates on metadata
  (format, width, duration) prune BEFORE any decode touches bytes;
* decode / resize / frame-sample run as ``mapInPandas`` over Arrow batches —
  one Python worker call per ~10k rows, bytes never round-trip the driver;
* the decode kernel is a deterministic synthetic decode (testable
  plumbing): swap in a real decoder (PIL/av/librosa) on a production
  image; the Spark-side contract (schema, batching, partitioning) stays.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("bytes", BinaryType()),
    ]
)

FEATURE_DIM = 16

DECODED_SCHEMA = (
    "media_id string, kind string, width int, height int, "
    f"feature array<double>, checksum string"
)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for plumbing tests."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 4
        rows.append(
            (f"m{i:04d}", kind, "raw", 32 + i % 8, 24 + i % 6, 1 + i % 10, payload)
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_decode(data: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: a feature vector derived
    from a stable hash of the bytes."""
    h = hashlib.sha256(data).digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 8) // len(h) + 1))[: FEATURE_DIM * 8],
                        dtype=np.uint64)
    return (raw % 1000).astype(np.float64) / 1000.0


def decode_and_featurize(media: DataFrame) -> DataFrame:
    """Decode media bytes -> fixed-dim feature vectors via mapInPandas.

    Arrow-batched: the binary column transfers as one buffer per batch; the
    output drops the bytes (project early — decoded features are ~1000x
    smaller than media, so everything downstream shuffles cheap)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats, sums = [], []
            for b in pdf["bytes"]:
                data = bytes(b)
                feats.append(_fake_decode(data).tolist())
                sums.append(hashlib.md5(data).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "feature": feats,
                    "checksum": sums,
                }
            )

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling *plan*: explode frame indices 0..n_frames-1 and
    keep every n-th — pure Catalyst (sequence + explode + filter); the
    per-frame decode then rides decode_and_featurize. Filter-before-decode
    is the point: at 100 TB you drop (n-1)/n of the work before any UDF."""
    # n_frames > 0 guard: Spark's sequence(0, -1) REVERSES to [0, -1]
    # (default step -1), so an unguarded 0-frame video would fabricate
    # two frame rows (the r9 char_simpson lesson)
    return (
        media.filter((F.col("kind") == "video") & (F.col("n_frames") > 0))
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
            "bytes",
        )
        .filter(F.pmod(F.col("frame_idx"), F.lit(every_n)) == 0)
    )


# ---------------------------------------------------------------------------
# Audio framing: overlapping-window feature extraction over PCM samples
# ---------------------------------------------------------------------------

AUDIO_WIN = 128   # samples per analysis frame
AUDIO_HOP = 64    # hop between frame starts (50% overlap)


def audio_frame_energy(docs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Per-frame audio features over synthetic PCM: the canonical DSP
    framing pass (STFT/MFCC front ends all start here) — overlapping
    windows of AUDIO_WIN samples every AUDIO_HOP, per frame the exact
    integer energy (sum of squared samples), peak magnitude, and
    zero-crossing count.  Output (doc_id, frame, n_samples, energy_q,
    peak, n_zero_cross).

    The container has no audio decode libs (operators/multimodal.py
    header), so PCM is synthesized by a CLOSED-FORM integer recurrence
    of (doc_id, sample index): s_i = ((doc_id*31 + i*17) % 256) - 128,
    track length 512 + (doc_id % 7)*128 samples.  Closed form, not a
    planted byte column: each frame row derives its samples by formula,
    which is exactly how the real pass behaves after a mapInPandas
    decode — every sample is read win/hop times by design, and the
    plan (two explodes + one keyed map-side-combined aggregate, no
    joins, no windows) is the 100 TB shape of the real thing.  A real
    deployment swaps the formula for the decoded array column and
    F.aggregate over slices; everything downstream is unchanged.

    Exactness: samples in [-128, 127], energy <= 128 * 2^14 < 2^21 per
    frame — every aggregate is a small exact BIGINT on both engines."""
    d = F.col(id_col)
    n = (F.lit(512) + (d % 7) * 128).alias("n")
    nframes = F.floor((F.col("n") - AUDIO_WIN) / AUDIO_HOP) + 1
    base = docs.select(d.cast("long").alias(id_col), n)
    frames = base.select(
        id_col, "n",
        F.explode(F.sequence(F.lit(0), (nframes - 1).cast("int")))
        .alias("frame"),
    )
    expanded = frames.select(
        id_col, "frame",
        F.explode(F.sequence(F.lit(0), F.lit(AUDIO_WIN - 1))).alias("j"),
    ).select(
        id_col, "frame", "j",
        (F.col("frame") * AUDIO_HOP + F.col("j")).alias("i"),
    )
    s = ((F.col(id_col) * 31 + F.col("i") * 17) % 256 - 128).alias("s")
    s_next = ((F.col(id_col) * 31 + (F.col("i") + 1) * 17) % 256 - 128)
    samples = expanded.select(
        id_col, "frame", "j", s,
        F.when(F.col("j") < AUDIO_WIN - 1, s_next).alias("s1"),
    )
    return samples.groupBy(id_col, "frame").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("energy_q"),
        F.max(F.abs("s")).cast("long").alias("peak"),
        F.sum(F.when(F.col("s") * F.col("s1") < 0, 1).otherwise(0))
        .cast("long").alias("n_zero_cross"),
    )


def AUDIO_FRAME_SQL(table: str = "documents",
                    id_col: str = "doc_id") -> str:
    """DuckDB mirror: same closed-form PCM, same framing arithmetic."""
    win, hop = AUDIO_WIN, AUDIO_HOP
    return f"""
WITH base AS (
  SELECT CAST({id_col} AS BIGINT) AS {id_col},
         512 + ({id_col} % 7) * 128 AS n
  FROM {table}
),
frames AS (
  SELECT {id_col}, unnest(generate_series(0,
           CAST((n - {win}) // {hop} AS INT))) AS frame
  FROM base
),
expanded AS (
  SELECT {id_col}, frame, j, frame * {hop} + j AS i
  FROM (SELECT {id_col}, frame,
               unnest(generate_series(0, {win - 1})) AS j
        FROM frames)
),
samples AS (
  SELECT {id_col}, frame, j,
         (({id_col} * 31 + i * 17) % 256) - 128 AS s,
         CASE WHEN j < {win - 1}
              THEN (({id_col} * 31 + (i + 1) * 17) % 256) - 128
         END AS s1
  FROM expanded
)
SELECT {id_col}, CAST(frame AS BIGINT) AS frame,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(s * s) AS BIGINT) AS energy_q,
       CAST(max(abs(s)) AS BIGINT) AS peak,
       CAST(sum(CASE WHEN s * s1 < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_cross
FROM samples
GROUP BY 1, 2
"""


SHOT_LUMA_TAU = 40
SILENCE_TAU = 700_000


def video_shot_boundaries(docs: DataFrame,
                          id_col: str = "doc_id") -> DataFrame:
    """Shot-boundary detection over synthetic per-frame luma — the
    classic hard-cut detector (mean-luma frame differencing): a
    boundary wherever |luma(f) - luma(f-1)| > tau.  Output per video:
    (doc_id, n_frames, n_shots, first_boundary_frame,
    mean_shot_len_ppm).

    Like audio_frame_energy, the container has no video decode, so
    per-frame mean luma is a CLOSED FORM of (doc_id, frame):
    l = ((doc_id*37 + frame*frame*11) % 200) + 20, track length
    24 + (doc_id % 5)*8 frames.  The closed form lets the PREVIOUS
    frame's luma be recomputed in the same row — so the whole detector
    is one explode + map expressions + ONE keyed aggregate: no window,
    no self-join, no lag shuffle.  A real deployment feeds decoded
    mean-luma rows (mapInPandas) into lag-over-(video ORDER BY frame)
    — one keyed window — with everything downstream unchanged.

    Exactness: luma in [20, 219], all arithmetic small exact BIGINTs;
    mean shot length is floor-ppm."""
    d = F.col(id_col)
    base = docs.select(
        d.cast("long").alias(id_col),
        (F.lit(24) + (d % 5) * 8).cast("int").alias("nf"),
    )
    diffs = base.select(
        id_col, "nf",
        F.explode(F.sequence(F.lit(1), F.col("nf") - 1)).alias("f"),
    )
    luma = f"((({id_col} * 37 + %s * %s * 11) %% 200) + 20)"
    cur = luma % ("f", "f")
    prv = luma % ("(f - 1)", "(f - 1)")
    flagged = diffs.select(
        id_col, "nf", "f",
        F.expr(f"abs({cur} - {prv}) > {SHOT_LUMA_TAU}").alias("cut"),
    )
    return flagged.groupBy(id_col).agg(
        F.max("nf").cast("long").alias("n_frames"),
        (F.sum(F.when(F.col("cut"), 1).otherwise(0)) + 1).cast("long")
        .alias("n_shots"),
        F.min(F.when(F.col("cut"), F.col("f"))).cast("long")
        .alias("first_boundary_frame"),
    ).select(
        id_col, "n_frames", "n_shots", "first_boundary_frame",
        F.expr("n_frames * 1000000 div n_shots").cast("long")
        .alias("mean_shot_len_ppm"),
    )


def VIDEO_SHOTS_SQL(table: str = "documents",
                    id_col: str = "doc_id") -> str:
    luma = f"((({id_col} * 37 + %s * %s * 11) %% 200) + 20)"
    cur = luma % ("f", "f")
    prv = luma % ("(f - 1)", "(f - 1)")
    return f"""
WITH base AS (
  SELECT CAST({id_col} AS BIGINT) AS {id_col},
         24 + ({id_col} % 5) * 8 AS nf
  FROM {table}
),
diffs AS (
  SELECT {id_col}, nf, unnest(generate_series(1, nf - 1)) AS f FROM base
),
flagged AS (
  SELECT {id_col}, nf, f,
         abs({cur} - {prv}) > {SHOT_LUMA_TAU} AS cut
  FROM diffs
),
agg AS (
  SELECT {id_col},
         CAST(max(nf) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS n_shots,
         CAST(min(CASE WHEN cut THEN f END) AS BIGINT)
           AS first_boundary_frame
  FROM flagged GROUP BY 1
)
SELECT {id_col}, n_frames, n_shots, first_boundary_frame,
       CAST(n_frames * 1000000 // n_shots AS BIGINT) AS mean_shot_len_ppm
FROM agg
"""


def audio_silence_segments(docs: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """VAD-style silence segmentation over the audio_frame_energy
    frames: a frame is quiet when energy_q < tau; consecutive quiet
    frames merge into segments (gaps-and-islands).  Output per track:
    (doc_id, n_frames, n_quiet_frames, n_segments, longest_run).

    Scale: rides the audio framing aggregate, then ONE doc-keyed
    row_number window over the QUIET frames only (islands key =
    frame - rank), one run aggregate, one per-doc rollup joined back
    keyed — every stage keyed by the track id, parallelism = |tracks|."""
    from pyspark.sql import Window

    frames = audio_frame_energy(docs, id_col)
    totals = frames.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum(F.when(F.col("energy_q") < SILENCE_TAU, 1).otherwise(0))
        .cast("long").alias("n_quiet_frames"),
    )
    quiet = frames.where(F.col("energy_q") < SILENCE_TAU)
    w = Window.partitionBy(id_col).orderBy("frame")
    runs = quiet.select(
        id_col, "frame",
        (F.col("frame") - F.row_number().over(w)).alias("grp"),
    ).groupBy(id_col, "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len"))
    seg = runs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.max("run_len").cast("long").alias("longest_run"),
    )
    return totals.join(seg, id_col, "left").select(
        id_col, "n_frames", "n_quiet_frames",
        F.coalesce("n_segments", F.lit(0)).cast("long")
        .alias("n_segments"),
        F.coalesce("longest_run", F.lit(0)).cast("long")
        .alias("longest_run"),
    )


def AUDIO_SILENCE_SQL(table: str = "documents",
                      id_col: str = "doc_id") -> str:
    return f"""
WITH frames AS ({AUDIO_FRAME_SQL(table, id_col)}),
totals AS (
  SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN energy_q < {SILENCE_TAU} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_quiet_frames
  FROM frames GROUP BY 1
),
quiet AS (
  SELECT {id_col}, frame,
         frame - row_number() OVER (PARTITION BY {id_col}
                                    ORDER BY frame) AS grp
  FROM frames WHERE energy_q < {SILENCE_TAU}
),
runs AS (
  SELECT {id_col}, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM quiet GROUP BY 1, 2
),
seg AS (
  SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(run_len) AS BIGINT) AS longest_run
  FROM runs GROUP BY 1
)
SELECT t.{id_col}, t.n_frames, t.n_quiet_frames,
       CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(coalesce(s.longest_run, 0) AS BIGINT) AS longest_run
FROM totals t LEFT JOIN seg s ON s.{id_col} = t.{id_col}
"""
