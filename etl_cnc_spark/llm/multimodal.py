"""Multimodal (binary) columns for LLM data pipelines
(SURVEY.md §2.10).

Images/audio/video are opaque ``binary`` payloads with a typed
metadata struct; the engine provides the Spark-side plumbing —
schema, filtering on metadata, hashing, Arrow-batched per-partition
decode via ``mapInPandas``. Actual media decoding needs libraries
not present in this container, so the decode step is STUBBED behind
an import gate (``NotImplementedError`` branch) with a deterministic
byte-level feature extractor standing in — the distributed plumbing
(batch iteration, schema, partitioning) is real and tested.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register, reuse
from ..utils import q4, spread_scan

if TYPE_CHECKING:  # imported where used, so loading the registry skips pandas
    import pandas as pd


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque binary payload column with
    a metadata struct — the multimodal column shape (binary payload +
    typed metadata travels with every row)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode("text", "utf-8")).alias("byte_len"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


@register(
    "multimodal_cols",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           'text/plain' AS mime,
           sha256(text) AS payload_sha256
    FROM documents
    WHERE octet_length(encode(text)) > 300
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata struct: filter on metadata, hash the
    payload bytes. (Fixture text is pure ASCII — verified — so the
    oracle's string sha256 equals the binary-side hash.)"""
    p = _payloads(spark, sf_dir)
    return p.where(F.col("meta.byte_len") > 300).select(
        "doc_id",
        F.col("meta.byte_len").cast("long").alias("byte_len"),
        F.col("meta.mime").alias("mime"),
        F.sha2("payload", 256).alias("payload_sha256"),
    )


_DECODE_SCHEMA = (
    "doc_id LONG, mime STRING, byte_len LONG, n_chunks LONG, byte_mean DOUBLE"
)


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition Arrow-batched 'decode'.

    Real media decode would dispatch on mime type here (PIL/librosa/
    pyav); those libs aren't in this container, so non-text mimes
    raise NotImplementedError and text payloads get a deterministic
    byte-level feature (mean of the first 64 byte values + 16-byte
    chunk count) — same batch shape a real decoder would produce.
    """
    try:  # pragma: no cover - decode libs absent by design
        import PIL.Image  # noqa: F401

        have_media_libs = True
    except ImportError:
        have_media_libs = False

    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload, mime in zip(pdf["doc_id"], pdf["payload"], pdf["mime"]):
            if mime != "text/plain":
                if not have_media_libs:
                    raise NotImplementedError(
                        f"decode for mime={mime} requires media libraries "
                        "not present in this environment"
                    )
                continue  # pragma: no cover
            head = payload[:64]
            rows.append(
                {
                    "doc_id": doc_id,
                    "mime": mime,
                    "byte_len": len(payload),
                    "n_chunks": (len(payload) + 15) // 16,
                    "byte_mean": float(sum(head)) / len(head),
                }
            )
        yield pd.DataFrame(rows, columns=["doc_id", "mime", "byte_len", "n_chunks", "byte_mean"])


@register(
    "multimodal_decode",
    oracle="""
    SELECT doc_id, 'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           CAST((octet_length(encode(text)) + 15) // 16 AS BIGINT) AS n_chunks,
           floor((CAST(list_aggregate(list_transform(
                    range(1, least(octet_length(encode(text)) + 1, 65)),
                    i -> ascii(text[i])), 'sum') AS DOUBLE)
                  / least(octet_length(encode(text)), 64))
                 *10000 + 0.5)/10000.0 AS byte_mean
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode pipeline over binary payloads: Arrow-batch
    iterator in, typed feature rows out. The stub feature (mean of
    the first 64 payload bytes) is deterministic, so even the stub is
    content-verified against SQL (ASCII text ⇒ byte value == ascii
    code)."""
    p = _payloads(spark, sf_dir).select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")
    )
    decoded = p.mapInPandas(_decode_batches, _DECODE_SCHEMA)
    return decoded.select(
        "doc_id", "mime", "byte_len", "n_chunks", q4(F.col("byte_mean")).alias("byte_mean")
    )


_FRAME_SCHEMA = "doc_id LONG, frame_idx LONG, frame_len LONG, first_byte LONG"
FRAME_BYTES = 256
FRAME_STRIDE = 4  # sample every 4th frame


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition frame sampler: chunk each payload into fixed
    FRAME_BYTES frames and emit every FRAME_STRIDE-th one — the video
    frame-sampling shape (a real decoder would seek keyframes; the
    byte-chunk stand-in keeps identical batch geometry)."""
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
            for idx in range(0, n_frames, FRAME_STRIDE):
                frame = payload[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "frame_idx": idx,
                        "frame_len": len(frame),
                        "first_byte": frame[0],
                    }
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_len", "first_byte"]
        )


@register(
    "multimodal_framesample",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, text,
             CAST(unnest(generate_series(0,
                  (octet_length(encode(text))-1)//{FRAME_BYTES}, {FRAME_STRIDE}))
                  AS BIGINT) AS frame_idx
      FROM documents
    )
    SELECT doc_id, frame_idx,
           CAST(octet_length(encode(substr(text, 1 + frame_idx*{FRAME_BYTES},
                {FRAME_BYTES}))) AS BIGINT) AS frame_len,
           CAST(ascii(substr(text, 1 + frame_idx*{FRAME_BYTES}, 1)) AS BIGINT)
               AS first_byte
    FROM f
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads via mapInPandas: fixed-size
    byte frames, every 4th emitted (video keyframe-sampling geometry;
    ASCII fixtures make even the stub content-verifiable in SQL).
    Row-local expansion — no shuffle, scales with the corpus."""
    p = _payloads(spark, sf_dir).select("doc_id", "payload")
    return p.mapInPandas(_frame_sample_batches, _FRAME_SCHEMA)


SHARD_SIZE = 64  # documents per training shard


@register(
    "multimodal_shard_manifest",
    oracle=f"""
    SELECT CAST(doc_id // {SHARD_SIZE} AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS bytes_approx,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS member_digest
    FROM documents GROUP BY 1
    """,
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest (webdataset/tar-shard layout prep):
    documents assign to fixed-size shards by id range, and the
    manifest records per-shard cardinality, approximate byte load,
    id bounds, and an order-insensitive-storage-but-order-exact
    membership digest (md5 over the sorted member list) — what a
    dataloader needs to plan epochs and what an integrity check
    diffs after a rewrite. Id-range sharding keeps assignment
    deterministic and join-free; byte-balanced sharding would swap
    the DIV for a running-sum cut like events_pareto's."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.expr(f"doc_id DIV {SHARD_SIZE}").cast("long").alias("shard_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bytes_approx"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("member_digest"),
        )
    )


@register(
    "multimodal_dedup",
    oracle="""
    WITH crawl AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
    ), hashed AS (
        SELECT doc_id, sha256(text) AS payload_sha256 FROM crawl
    )
    SELECT payload_sha256,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc
    FROM hashed GROUP BY payload_sha256
    HAVING count(*) > 1
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup over opaque payloads: content-hash the
    bytes, group, keep the lowest id — identical-image/audio removal,
    the first pass of every multimodal curation pipeline (CLIP-style
    datasets drop 20-30% of crawled images here). The fixture corpus
    is duplicate-free, so the crawl is simulated as documents ∪ a
    re-crawl of every 7th payload under fresh ids — the dedup must
    recover exactly those groups with the original as keeper. One
    hash + one groupBy shuffle on the digest at any scale; near-dup
    perceptual hashing slots into the same plan by swapping the
    digest column. (ASCII fixture text ⇒ the binary sha256 equals
    the oracle's string sha256, as in multimodal_cols.)"""
    p = _payloads(spark, sf_dir).select("doc_id", "payload")
    crawl = p.unionAll(
        p.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "payload"
        )
    )
    return (
        crawl.select("doc_id", F.sha2("payload", 256).alias("payload_sha256"))
        .groupBy("payload_sha256")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc"),
        )
        .where(F.col("n_copies") > 1)
    )


N_READERS = 8  # parallel dataloader workers per epoch
N_EPOCHS = 2


@register(
    "pipeline_shuffle_epoch",
    oracle=f"""
    WITH epochs AS (
        SELECT d.doc_id, e.epoch,
               md5(CAST(d.doc_id AS VARCHAR) || ':' ||
                   CAST(e.epoch AS VARCHAR)) AS perm
        FROM documents d
        CROSS JOIN (SELECT unnest(range({N_EPOCHS})) AS epoch) e
    ), ranked AS (
        SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, perm,
               CAST(row_number() OVER (PARTITION BY epoch
                    ORDER BY perm, doc_id) AS BIGINT) AS rank
        FROM epochs
    )
    SELECT doc_id, epoch, rank,
           (rank - 1) % {N_READERS} AS reader_id
    FROM ranked
    """,
)
def pipeline_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: every epoch permutes
    the corpus by a seeded content-independent key (md5 of
    doc_id:epoch — identical bytes in any engine), ranks the
    permutation, and deals documents round-robin to N_READERS
    dataloader workers. Reproducible-by-construction (a crashed run
    resumes mid-epoch from (epoch, rank)), and balanced: each reader
    gets ⌈n/N⌉±1 docs with no coordination.

    The per-epoch rank partitions by epoch (bounded epochs ⇒ windows
    fine); at extreme corpus scale the same ``global_ordered`` prefix
    machinery drops in per epoch. One projection + one window shuffle
    per epoch — no data movement proportional to payload bytes, the
    manifest is ids only."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    epochs = d.crossJoin(
        spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    )
    perm = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("epoch").cast("string"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("epoch").orderBy("perm", "doc_id")
    ranked = epochs.select("doc_id", "epoch", perm.alias("perm")).withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
    return ranked.select(
        "doc_id",
        "epoch",
        "rank",
        ((F.col("rank") - 1) % N_READERS).cast("long").alias("reader_id"),
    )


# ------------------------------------------------- payload byte entropy

ENT_DOC_MOD = 10  # report every 10th doc (bounded driver output)


@register(
    "multimodal_byte_entropy",
    oracle=f"""
    WITH chars AS (
        -- char histogram == byte histogram ONLY for pure-ASCII text;
        -- the Spark side histograms UTF-8 BYTES, so guard the
        -- assumption loudly instead of silently drifting if a future
        -- fixture gains multi-byte characters
        SELECT doc_id, unnest(string_split(
            CASE WHEN strlen(text) = length(text) THEN text
                 ELSE error('byte-entropy oracle assumes ASCII text')
            END, '')) AS ch
        FROM documents WHERE doc_id % {ENT_DOC_MOD} = 0
    ), freq AS (
        SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
        FROM chars GROUP BY doc_id, ch
    ), tot AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS distinct_bytes
        FROM freq GROUP BY doc_id
    ), ent AS (
        SELECT f.doc_id,
               CAST(sum(CAST(floor(-(CAST(f.c AS DOUBLE) / t.n)
                   * log2(CAST(f.c AS DOUBLE) / t.n) * 1e9 + 0.5)
                   AS BIGINT)) AS DOUBLE) / 1e9 AS entropy_bits
        FROM freq f JOIN tot t ON t.doc_id = f.doc_id
        GROUP BY f.doc_id
    )
    SELECT t.doc_id, t.n AS n_bytes, t.distinct_bytes,
           floor(e.entropy_bits * 10000 + 0.5) / 10000.0 AS entropy_bits
    FROM tot t JOIN ent e ON e.doc_id = t.doc_id
    """,
)
def multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level Shannon entropy of binary payloads via an
    Arrow-batched ``mapInPandas`` pass — the cheap modality-agnostic
    quality/dedup signal for blobs: compressed media sits near 8
    bits/byte, text far below, truncated or padded payloads stand
    out immediately. The UDF is the real multimodal plumbing (whole
    Arrow record batches, numpy ``frombuffer`` + ``bincount`` per
    payload — no per-row Python call overhead); per-term entropy
    contributions are fixed-point-quantized (1e-9) before summing so
    the Python-side result is bit-identical to the oracle's
    char-frequency formulation (payloads are ASCII text stand-ins —
    byte histogram == char histogram, verified by multimodal_cols'
    sha256 parity)."""
    import math

    import numpy as np
    import pandas as pd

    p = _payloads(spark, sf_dir).where(F.col("doc_id") % ENT_DOC_MOD == 0)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)
                if arr.size == 0:
                    # the oracle's char-unnest yields no rows for an
                    # empty doc; mirror that by emitting nothing
                    continue
                counts = np.bincount(arr, minlength=256)
                nz = counts[counts > 0].astype(np.float64)
                n = float(arr.size)
                acc = 0
                for c in nz.tolist():
                    pr = c / n
                    acc += math.floor(-pr * math.log2(pr) * 1e9 + 0.5)
                out.append(
                    (int(doc_id), int(arr.size), int(nz.size), acc / 1e9)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_bytes", "distinct_bytes", "ent"],
            )

    feats = p.select("doc_id", "payload").mapInPandas(
        batches,
        "doc_id LONG, n_bytes LONG, distinct_bytes LONG, ent DOUBLE",
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        "distinct_bytes",
        q4(F.col("ent")).alias("entropy_bits"),
    )


# --------------------------------------- frame-energy segmentation

ENE_FRAME = 16  # frame width in bytes
ENE_THRESH = 1600  # active frame: byte-sum energy above this
ENE_DOC_MOD = 5  # analyze every 5th doc (bounded output)


def _energy_batches(it):
    """Arrow-batched frame energies: numpy frombuffer + reshape —
    the real signal-processing plumbing (VAD / scene detection runs
    exactly this shape with a DSP kernel instead of a byte sum)."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        out_doc, out_frame, out_energy = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8)
            n_full = arr.size // ENE_FRAME
            if n_full == 0:
                continue
            frames = arr[: n_full * ENE_FRAME].reshape(
                n_full, ENE_FRAME
            )
            energies = frames.sum(axis=1, dtype=np.int64)
            out_doc.extend([int(doc_id)] * n_full)
            out_frame.extend(range(n_full))
            out_energy.extend(int(x) for x in energies)
        yield pd.DataFrame(
            {"doc_id": out_doc, "frame": out_frame, "energy": out_energy}
        )


@register(
    "multimodal_energy_segments",
    oracle=f"""
    WITH sel AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % {ENE_DOC_MOD} = 0
    ), frames AS (
        SELECT doc_id,
               CAST(f AS BIGINT) AS frame,
               CAST(list_aggregate([ord(substr(text,
                        CAST(f * {ENE_FRAME} + i AS INTEGER), 1))
                    for i in range(1, {ENE_FRAME + 1})], 'sum')
                    AS BIGINT) AS energy
        FROM sel CROSS JOIN range(0, 256) r(f)
        WHERE (f + 1) * {ENE_FRAME} <= strlen(text)
    ), active AS (
        SELECT doc_id, frame, energy,
               frame - CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY frame) AS BIGINT) AS grp
        FROM frames WHERE energy >= {ENE_THRESH}
    )
    SELECT doc_id,
           CAST(min(frame) AS BIGINT) AS seg_start,
           CAST(max(frame) AS BIGINT) AS seg_end,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS seg_energy
    FROM active GROUP BY doc_id, grp
    """,
    bench=True,  # mapInArrow/mapInPandas multimodal representative:
    # the only plan family (Arrow-batched binary decode + vectorized
    # frame fold + gaps-and-islands segmentation) previously without
    # a frozen baseline (BASELINE.md "Round-7 re-freeze").
)
def multimodal_energy_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-energy segmentation over binary payloads — the VAD /
    scene-detection plumbing shape: payloads split into fixed
    16-byte frames INSIDE an Arrow-batched mapInPandas pass (numpy
    frombuffer + reshape + vectorized row sums, no per-row Python),
    active frames thresholded on energy, and consecutive active
    frames merged into segments with gaps-and-islands. Swap the
    byte-sum kernel for spectral energy and this IS voice-activity
    detection; the relational half (threshold + islands + segment
    rollup) is unchanged.

    Verification: payloads are ASCII text stand-ins (byte == char,
    guarded by multimodal_byte_entropy's oracle), so the oracle
    recomputes frame energies with ord() arithmetic and the whole
    UDF output is hash-exact. Scale: the Arrow pass is linear and
    partition-local; only (doc, frame, energy) triples shuffle, and
    the islands window partitions by doc."""
    from pyspark.sql import Window

    p = _payloads(spark, sf_dir).where(
        F.col("doc_id") % ENE_DOC_MOD == 0
    ).select("doc_id", "payload")
    # r15 (guide §2.5): the Arrow decode+fold pass is compute-dense
    # but the documents file is byte-small, so the scan planned ONE
    # split and the whole Python pass ran on one task (354 ms stage at
    # sf0.1).  spread_scan repartitions only while the file would plan
    # fewer splits than the shuffle parallelism — a no-op at scale.
    p = spread_scan(p, sf_dir, "documents", "doc_id")
    frames = p.mapInPandas(
        _energy_batches, "doc_id long, frame long, energy long"
    )
    w = Window.partitionBy("doc_id").orderBy("frame")
    active = frames.where(F.col("energy") >= ENE_THRESH).withColumn(
        "grp",
        F.col("frame") - F.row_number().over(w).cast("long"),
    )
    return active.groupBy("doc_id", "grp").agg(
        F.min("frame").cast("long").alias("seg_start"),
        F.max("frame").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("seg_energy"),
    ).drop("grp")


# ------------------------------------ magic-byte sniffing (r8 wave AE)

# deterministic per-doc container signature (doc_id % 4):
# 0 -> PNG, 1 -> JPEG, 2 -> RIFF/WAVE, 3 -> bare text (no signature)
_MAGIC_HEX = {
    0: "89504E470D0A1A0A",          # \x89PNG\r\n\x1a\n
    1: "FFD8FFE0",                   # JPEG/JFIF SOI+APP0
    2: "52494646AAAAAAAA57415645",  # RIFF....WAVE (dummy size)
}
_MIME = {0: "image/png", 1: "image/jpeg", 2: "audio/wav", 3: "text/plain"}


@register(
    "multimodal_mime_sniff",
    oracle=f"""
    WITH framed AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN '\\x89PNG\\x0D\\x0A\\x1A\\x0A'::BLOB
                      || encode(text)
                 WHEN 1 THEN '\\xFF\\xD8\\xFF\\xE0'::BLOB || encode(text)
                 WHEN 2 THEN 'RIFF\\xAA\\xAA\\xAA\\xAAWAVE'::BLOB
                      || encode(text)
                 ELSE encode(text)
               END AS payload,
               CASE doc_id % 4 WHEN 0 THEN 'image/png'
                 WHEN 1 THEN 'image/jpeg' WHEN 2 THEN 'audio/wav'
                 ELSE 'text/plain' END AS declared
        FROM documents
    ), sniffed AS (
        SELECT doc_id, declared,
               CASE
                 WHEN substring(hex(payload), 1, 16) = '89504E470D0A1A0A'
                   THEN 'image/png'
                 WHEN substring(hex(payload), 1, 6) = 'FFD8FF'
                   THEN 'image/jpeg'
                 WHEN substring(hex(payload), 1, 8) = '52494646'
                  AND substring(hex(payload), 17, 8) = '57415645'
                   THEN 'audio/wav'
                 ELSE 'text/plain'
               END AS sniffed,
               CAST(octet_length(payload) AS BIGINT) AS nbytes
        FROM framed
    )
    SELECT sniffed AS mime,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(sniffed = declared) AS BIGINT) AS n_match_meta,
           CAST(sum(nbytes) AS BIGINT) AS total_bytes
    FROM sniffed GROUP BY sniffed
    """,
)
def multimodal_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-format detection by MAGIC BYTES on binary payloads:
    frame each document behind a real PNG/JPEG/RIFF-WAVE signature
    (deterministic per doc_id; one class stays bare text), then sniff
    the format back from the first bytes ALONE and reconcile against
    the declared metadata — the trust-nothing ingest step every
    multimodal pipeline runs before handing payloads to a decoder
    (a mislabeled payload crashes a whole Arrow batch at 100 TB).

    All byte surgery is JVM-side: binary literal || concat to frame,
    hex(substring) prefix compares to sniff — no UDF, no Python in
    the loop; the RIFF check reads BOTH the outer tag and the WAVE
    form type at offset 8, as a real sniffer must.

    Scale shape: one map pass over payload PREFIXES (the sniff never
    touches the payload body), one bounded aggregate to <=4 mime
    rows."""
    d = table(spark, sf_dir, "documents")
    sig = (
        F.when(F.col("doc_id") % 4 == 0, F.expr(f"X'{_MAGIC_HEX[0]}'"))
        .when(F.col("doc_id") % 4 == 1, F.expr(f"X'{_MAGIC_HEX[1]}'"))
        .when(F.col("doc_id") % 4 == 2, F.expr(f"X'{_MAGIC_HEX[2]}'"))
        .otherwise(F.expr("X''"))
    )
    framed = d.select(
        "doc_id",
        F.concat(sig, F.encode("text", "utf-8")).alias("payload"),
        F.element_at(
            F.lit([_MIME[0], _MIME[1], _MIME[2], _MIME[3]]),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ).alias("declared"),
    )
    hx = F.hex(F.col("payload"))
    sniffed = framed.select(
        "declared",
        F.when(F.substring(hx, 1, 16) == "89504E470D0A1A0A", "image/png")
        .when(F.substring(hx, 1, 6) == "FFD8FF", "image/jpeg")
        .when(
            (F.substring(hx, 1, 8) == "52494646")
            & (F.substring(hx, 17, 8) == "57415645"),
            "audio/wav",
        )
        .otherwise("text/plain")
        .alias("sniffed"),
        F.octet_length("payload").cast("long").alias("nbytes"),
    )
    return sniffed.groupBy(F.col("sniffed").alias("mime")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("sniffed") == F.col("declared"))
        .cast("long")
        .alias("n_match_meta"),
        F.sum("nbytes").cast("long").alias("total_bytes"),
    )


# ------------------------------ WAV header parsing (r8 wave AI)

# little-endian field decode: byte k of a blob as an integer via its
# two hex chars — the identical digit arithmetic on both engines
_WAV_RATES = {0: 8000, 1: 16000, 2: 44100}


def _le_u32_sql(col: str, pos: int) -> str:
    # bytes pos..pos+3 of BLOB col, little-endian
    return " + ".join(
        f"(CAST(strpos('0123456789ABCDEF', substring(hex({col}),"
        f" {2 * (pos + i) - 1}, 1)) - 1 AS BIGINT) * 16"
        f" + CAST(strpos('0123456789ABCDEF', substring(hex({col}),"
        f" {2 * (pos + i)}, 1)) - 1 AS BIGINT)) * {256 ** i}"
        for i in range(4)
    )


@register(
    "multimodal_wav_header",
    oracle=f"""
    WITH framed AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 8000
                 WHEN 1 THEN 16000 ELSE 44100 END AS true_rate
        FROM documents
    ), payloads AS (
        SELECT doc_id, true_rate,
               'RIFF\\x24\\x00\\x00\\x00WAVEfmt \\x10\\x00\\x00\\x00'::BLOB
               || CASE doc_id % 3
                    WHEN 0 THEN '\\x01\\x00\\x01\\x00\\x40\\x1F\\x00\\x00'::BLOB
                    WHEN 1 THEN '\\x01\\x00\\x01\\x00\\x80\\x3E\\x00\\x00'::BLOB
                    ELSE '\\x01\\x00\\x02\\x00\\x44\\xAC\\x00\\x00'::BLOB
                  END AS payload
        FROM framed
    ), parsed AS (
        SELECT doc_id, true_rate,
               {_le_u32_sql("payload", 25)} AS sample_rate,
               CAST(strpos('0123456789ABCDEF', substring(hex(payload), 45, 1))
                    - 1 AS BIGINT) * 16
               + CAST(strpos('0123456789ABCDEF', substring(hex(payload), 46,
                    1)) - 1 AS BIGINT) AS channels
        FROM payloads
    )
    SELECT CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(channels AS BIGINT) AS channels,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count_if(sample_rate = true_rate) AS BIGINT) AS n_rate_ok
    FROM parsed GROUP BY sample_rate, channels
    """,
)
def multimodal_wav_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary WAV (RIFF/fmt) header FIELD decoding without any audio
    library: frame each document with a real 24-byte canonical fmt
    chunk (PCM, mono/stereo, 8 k/16 k/44.1 k by doc class), then
    parse the little-endian u32 sample rate at offset 24 and the u16
    channel count at offset 22 back out of the raw bytes — the
    metadata-extraction step an audio ingest runs on billions of
    clips before any decoder touches them.

    Byte arithmetic is hex-digit folds (strpos over '0..F' on
    hex(payload) — the same expression both engines evaluate), so
    the decode is pure whole-stage-codegen projection; the report
    groups by (rate, channels) and reconciles against the planted
    truth.

    Scale shape: one map pass over 24-byte header prefixes, one
    bounded aggregate (<=3 format rows)."""
    d = table(spark, sf_dir, "documents")
    fmt = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.expr("X'01000100401F0000'"),
        )
        .when(F.col("doc_id") % 3 == 1, F.expr("X'01000100803E0000'"))
        .otherwise(F.expr("X'0100020044AC0000'"))
    )
    payloads = d.select(
        "doc_id",
        F.element_at(
            F.lit([8000, 16000, 44100]), (F.col("doc_id") % 3 + 1).cast("int")
        ).alias("true_rate"),
        F.concat(
            F.expr("X'524946462400000057415645666D742010000000'"), fmt
        ).alias("payload"),
    )

    def hexdig(pos: int) -> str:
        return (
            f"CAST(instr('0123456789ABCDEF', substring(hex(payload),"
            f" {pos}, 1)) - 1 AS BIGINT)"
        )

    le_u32 = " + ".join(
        f"({hexdig(2 * (25 + i) - 1)} * 16 + {hexdig(2 * (25 + i))})"
        f" * {256 ** i}"
        for i in range(4)
    )
    channels = f"{hexdig(45)} * 16 + {hexdig(46)}"
    parsed = payloads.select(
        "true_rate",
        F.expr(le_u32).alias("sample_rate"),
        F.expr(channels).alias("channels"),
    )
    return parsed.groupBy(
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("sample_rate") == F.col("true_rate"))
        .cast("long")
        .alias("n_rate_ok"),
    )


# ------------------------------- round-9 wave H: perceptual hash (DCT)

_PH_MOD = 10  # sample every 10th doc (bounded like byte_entropy)
_PH_N = 8  # synthetic image side: 8x8 grayscale from the byte stream
_PH_LOW = 4  # keep the low-frequency 4x4 block (15 ACs, DC dropped)
_PH_Q = 1_000_000


@register(
    "multimodal_phash_dct",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, text,
               CAST(length(text) AS BIGINT) AS n
        FROM documents WHERE doc_id % {_PH_MOD} = 0
    ), px AS (
        SELECT doc_id, source, n,
               unnest(range(0, {_PH_N * _PH_N})) AS i
        FROM docs
    ), pixels AS (
        SELECT p.doc_id, p.source,
               CAST(p.i // {_PH_N} AS BIGINT) AS r,
               CAST(p.i % {_PH_N} AS BIGINT) AS c,
               CAST(ascii(d.text[CAST(p.i % p.n AS BIGINT) + 1]) AS BIGINT)
                   AS v
        FROM px p JOIN docs d USING (doc_id)
    ), freqs AS (
        SELECT u, v FROM range(0, {_PH_LOW}) a(u), range(0, {_PH_LOW}) b(v)
        WHERE NOT (u = 0 AND v = 0)
    ), coefs AS (
        SELECT p.doc_id, p.source, f.u, f.v,
               CAST(floor(sum(p.v
                   * cos(pi() * (2*p.r + 1) * f.u / {2 * _PH_N})
                   * cos(pi() * (2*p.c + 1) * f.v / {2 * _PH_N}))
                   * {_PH_Q} + 0.5) AS BIGINT) AS cq
        FROM pixels p CROSS JOIN freqs f
        GROUP BY p.doc_id, p.source, f.u, f.v
    ), med AS (
        SELECT doc_id, source, cq AS med_cq
        FROM (
            SELECT doc_id, source, cq,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY cq, u, v) AS rn
            FROM coefs
        ) WHERE rn = {(_PH_LOW * _PH_LOW - 1 + 1) // 2}
    ), hashes AS (
        SELECT c.doc_id, c.source,
               CAST(sum(CASE WHEN c.cq > m.med_cq
                   THEN CAST(1 AS BIGINT) << CAST(c.u * {_PH_LOW} + c.v - 1
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
        FROM coefs c JOIN med m USING (doc_id)
        GROUP BY c.doc_id, c.source
    ), groups AS (
        SELECT source, phash, CAST(count(*) AS BIGINT) AS grp
        FROM hashes GROUP BY source, phash
    )
    SELECT source,
           CAST(sum(grp) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct_hashes,
           CAST(max(grp) AS BIGINT) AS max_bucket,
           CAST(sum(grp * (grp - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM groups GROUP BY source
    """,
)
def multimodal_phash_dct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (pHash) pipeline over a synthetic image modality
    — the DCT-based near-duplicate-image signature (public pHash
    algorithm) with the image decode STUBBED deterministically (the
    8×8 'grayscale image' is the doc's byte stream laid out row-major,
    since no image codec ships in this container): 2-D DCT-II, keep
    the low-frequency 4×4 block, drop DC, threshold the 15 ACs at
    their median, pack bits → a 15-bit signature; report per-source
    bucket statistics (the candidate-pair count an image-dedup pass
    would verify).

    The Spark-side plumbing is the REAL pipeline shape: pixel fan-out
    (64/doc), a 15-frequency broadcast cross join, one hash aggregate
    per (doc, u, v) with both cosine factors evaluated identically in
    both engines, per-doc median by partitioned row_number (lower
    median of 15), bit-packing as an integer fold, then bucket
    aggregation — swap the pixels CTE for a real decoder UDF and
    nothing else changes.

    Scale shape at 100 TB: sampled docs × 64 pixels × 15 freqs rows
    into ONE map-side-combined aggregate; per-doc windows are
    15-row partitions; output bounded by |sources|."""
    d = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _PH_MOD == 0
    )
    docs = d.select(
        "doc_id", "source", "text", F.length("text").cast("long").alias("n")
    )
    px = docs.select(
        "doc_id",
        "source",
        "n",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(_PH_N * _PH_N - 1))).alias("i"),
    )
    pixels = px.select(
        "doc_id",
        "source",
        (F.col("i") / _PH_N).cast("long").alias("r"),
        (F.col("i") % _PH_N).cast("long").alias("c"),
        F.ascii(
            F.col("text").substr(
                (F.col("i") % F.col("n") + 1).cast("int"), F.lit(1)
            )
        )
        .cast("long")
        .alias("pv"),
    )
    freqs = spark.createDataFrame(
        [
            (u, v)
            for u in range(_PH_LOW)
            for v in range(_PH_LOW)
            if (u, v) != (0, 0)
        ],
        "u long, v long",
    )
    import math as _math

    pi = F.lit(_math.pi)
    coefs = (
        pixels.crossJoin(F.broadcast(freqs))
        .groupBy("doc_id", "source", "u", "v")
        .agg(
            F.floor(
                F.sum(
                    F.col("pv")
                    * F.cos(pi * (2 * F.col("r") + 1) * F.col("u") / (2 * _PH_N))
                    * F.cos(pi * (2 * F.col("c") + 1) * F.col("v") / (2 * _PH_N))
                )
                * _PH_Q
                + F.lit(0.5)
            )
            .cast("long")
            .alias("cq")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("cq", "u", "v")
    med = (
        coefs.select(
            "doc_id", "source", "cq", F.row_number().over(w).alias("rn")
        )
        .where(F.col("rn") == (_PH_LOW * _PH_LOW - 1 + 1) // 2)
        .select("doc_id", F.col("cq").alias("med_cq"))
    )
    hashes = (
        coefs.join(med, "doc_id")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN cq > med_cq THEN"
                    f" shiftleft(1L, cast(u * {_PH_LOW} + v - 1 AS int))"
                    f" ELSE 0L END"
                )
            )
            .cast("long")
            .alias("phash")
        )
    )
    groups = hashes.groupBy("source", "phash").agg(
        F.count(F.lit(1)).cast("long").alias("grp")
    )
    return groups.groupBy("source").agg(
        F.sum("grp").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_hashes"),
        F.max("grp").cast("long").alias("max_bucket"),
        F.sum(F.col("grp") * (F.col("grp") - 1) / 2)
        .cast("long")
        .alias("candidate_pairs"),
    )


# ------------------------------------------------------------------
# Cross-asset frame-level dedup (r11)


@register(
    "multimodal_frame_dedup",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               md5(substr(text, 1 + CAST(i AS INT) * {FRAME_BYTES},
                          {FRAME_BYTES})) AS fd
        FROM documents,
             UNNEST(range(0, (octet_length(encode(text)) - 1)
                             // {FRAME_BYTES} + 1)) AS g(i)
    ), dup AS (
        SELECT fd, CAST(count(*) AS BIGINT) AS n_frames,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM f GROUP BY fd
        HAVING min(doc_id) <> max(doc_id)
    )
    SELECT d.fd, d.n_frames,
           CAST(count(DISTINCT f.doc_id) AS BIGINT) AS n_docs,
           d.min_doc, d.max_doc
    FROM dup d JOIN f ON f.fd = d.fd
    GROUP BY d.fd, d.n_frames, d.min_doc, d.max_doc
    """,
)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-asset frame-level deduplication: chunk every binary
    payload into fixed {FRAME_BYTES}-byte frames, digest each frame,
    and report digests that occur in MORE THAN ONE asset — the video/
    audio dedup primitive (find shared intros, stingers, reposted
    segments) that runs before any expensive perceptual hash. The
    byte-chunk stand-in keeps the real geometry (a decoder would
    chunk GOPs/keyframes); ASCII fixtures make the digests
    SQL-verifiable.

    Scale shape: one row-local explode (frames per asset — bounded by
    payload size over frame size), one digest hash aggregate where
    the >=2-distinct-assets gate is the map-side-combinable
    min(doc)!=max(doc) trick (NOT countDistinct — no second shuffle),
    then one semi-join-shaped re-aggregation restricted to the tiny
    duplicated-digest set for the exact distinct-asset count. Only
    32-byte digests ever shuffle — never payload bytes."""
    p = _payloads(spark, sf_dir).select("doc_id", "payload")
    f = reuse(p.select(
        "doc_id",
        "payload",
        F.explode(
            F.expr(
                f"sequence(0, (octet_length(payload) - 1)"
                f" div {FRAME_BYTES})"
            )
        ).alias("i"),
    ).select(
        "doc_id",
        F.md5(
            F.expr(
                f"substring(payload, 1 + CAST(i AS INT) * {FRAME_BYTES},"
                f" {FRAME_BYTES})"
            )
        ).alias("fd"),
        # DATA-SCALED (one digest row per frame): persist() keeps
        # lineage so executor loss recomputes (SCALE.md r13 rule)
    ))
    dup = (
        f.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .where(F.col("min_doc") != F.col("max_doc"))
    )
    return (
        dup.join(f, "fd")
        .groupBy("fd", "n_frames", "min_doc", "max_doc")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .select("fd", "n_frames", "n_docs", "min_doc", "max_doc")
    )
