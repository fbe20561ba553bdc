"""Persistent inverted-index build: bucketed, salted, checkpointed, resumable.

The production-scale pipeline (SURVEY.md §4.2, north_rule). Layout under
``out_dir``:

    doc_ids/            parquet  docid, ext_docid (+ natural-key columns)
    doc_stats/          parquet  docid, field, doclen
    segments/           parquet  per-task index SEGMENTS: one row per
                                 (doc-chunk, field, term) holding that
                                 chunk's postings as varint bytes + merge
                                 metadata, in row groups exclusive to one
                                 merge bucket; marker rows carry per-chunk
                                 (docid, doclen) pairs; per-task partial
                                 term stats. All files are listed in
                                 _manifest.json (python-side writes,
                                 Iceberg-style manifest commit).
    term_stats/         parquet  term, field, df, ctf, bucket
    packed/             parquet  one row per posting BLOCK — term, field,
                                 salt, block_id, n, min_docid, max_docid,
                                 max_tf, min_doclen (block-max metadata,
                                 plain columns) + docids/tfs/doclens/
                                 positions (delta-gap + varint binary).
                                 Column pruning means a metadata-only read
                                 never touches the binary columns. packed-*
                                 files listed in _manifest.json, one per
                                 merge bucket, term-sorted so row-group
                                 stats prune term scans.
    corpus_stats.json   tiny per-field aggregates (N, sum_doclen, avgdl)
    manifest.json       lineage + per-stage completion + counters

Build = the classic two-phase segment architecture, Spark-shaped:

1. **Segment pass** (mapInArrow, NO shuffle): each task tokenizes its docs
   with pyarrow.compute and groups them with numpy, then writes its own
   segment file python-side, routing every term row into the row group of
   its merge bucket (crc32(term) % merge_buckets).
2. **Merge pass** (NO shuffle): one python task per bin of merge buckets
   reads exactly its buckets' row groups, decodes with ``np.frombuffer``,
   concatenates/sorts (vectorized run gather) and re-cuts into block_size
   varint blocks with block-max metadata.

Design points for 100 TB / 1000 executors:

- **Skew (stopword-grade terms).** groupBy(term) would put all of ``def``'s
  postings in one task. Terms with df > ``salt_threshold`` are salted by
  docid RANGE (integer ``//`` in numpy): a segment spanning a salt boundary
  is exploded to every salt it overlaps and the merge kernel keeps only the
  salt's exact docid range, so salt spans stay disjoint and globally
  docid-ascending — no extra merge pass, unlike modulo salting.
- **Resumable.** Each stage (segments, packed, stats) commits by a manifest
  mark after its files are listed in a side manifest; a rerun skips the
  marked stages. A merge that crashed before its side-manifest commit is
  redone from an emptied ``packed/``. The resume test asserts a killed and
  resumed build equals a never-failed build content-identically.
- **Counters/lineage** persisted per stage in the manifest (docs tokenized,
  blocks written, per-stage seconds, order-independent input fingerprint,
  config echo).
"""


from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.index.codec import (
    BLOCK_SIZE,
    encode_blocks,
    positions_byte_lengths,
    positions_pack_flat,
    varint_decode,
    varint_encode_with_offsets,
)
from search_engine_spark.tokenize import CODE_TOKENIZER, Tokenizer


@dataclass
class BuildConfig:
    out_dir: str
    n_buckets: int = 16
    block_size: int = BLOCK_SIZE
    salt_threshold: int = 100_000  # df above this -> salted build
    n_salts: int = 8
    fields: dict = dc_field(default_factory=lambda: {"body": "content"})
    tokenizer: Tokenizer = CODE_TOKENIZER
    # parquet codec for the SEGMENT files only (write-once, read-once by the
    # merge): trades segment-stage compress CPU against merge-stage scan
    # bytes. The packed index stays snappy — it is read on every query, where
    # decode latency dominates. Env default so bench chains can A/B it.
    segment_codec: str = dc_field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_SEGMENT_CODEC", "snappy")
    )
    # merge-kernel working-set bound (postings per decode→encode pass; 0 =
    # whole partition). Chunking is bit-identical (cuts land on group
    # boundaries) and keeps the kernel's ~8 int64 temporaries small enough
    # to stay allocator/cache-resident when several merge tasks share a
    # host's memory system (BENCH_SCALING.md, chunked merge kernel).
    merge_chunk_postings: int = dc_field(
        default_factory=lambda: int(
            os.environ.get("SPARK_GRAFT_MERGE_CHUNK", "1000000")
        )
    )
    # merge buckets: the segment pass routes each term row to bucket
    # crc32(term) % merge_buckets, and the build writes one packed file per
    # non-empty bucket, sized so the largest bucket (one heavy keyword +
    # ~1/B of the Zipf tail) stays a small share of merge work. The merge's
    # TASK count is not a knob: _bucketed_merge bin-packs the buckets into
    # as many tasks as the routed rows and defaultParallelism call for, and
    # an append routes its delta into one bucket per delta task
    # (index/append.py).
    merge_buckets: int = 64


PACKED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("min_docid", T.LongType()),
        T.StructField("max_docid", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_doclen", T.LongType()),
        T.StructField("docids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("doclens", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
    ]
)

META_COLS = [
    "term", "field", "salt", "block_id", "n",
    "min_docid", "max_docid", "max_tf", "min_doclen",
]

# segment rows: one per (chunk, field, term) — that chunk's postings plus
# merge metadata. docids/tfs/doclens are raw LE ints (decoded by the merge
# anyway); positions are ALREADY the final per-posting varint-delta format
# (v2) so the merge slices bytes instead of re-encoding the largest stream.
# Marker rows carry per-chunk (docid, doclen) pairs for
# doc_stats and (docid, ext_docid) pairs for doc_ids.
SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("min_docid", T.LongType()),
        T.StructField("max_docid", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_doclen", T.LongType()),
        T.StructField("ctf_part", T.LongType()),
        T.StructField("docids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("doclens", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
    ]
)

DOCSTATS_MARKER = "\x00docstats"
# per-chunk (docid, ext_docid) marker: docids ride the `docids` binary, the
# NUL-joined ext-id strings ride the (otherwise unused) `positions` binary.
# Emitted once per chunk for ALL docs (zero-token docs included — doc_ids
# must stay complete), so the doc_ids table needs no separate docs scan.
DOCIDS_MARKER = "\x00docids"
MARKER_TERMS = [DOCSTATS_MARKER, DOCIDS_MARKER]
ARROW_CHUNK_DOCS = 4096  # docs per segment chunk


def _arrow_kernel_gen(cfg: BuildConfig):
    """The segment kernel as a worker-side generator factory: Arrow batches
    of docs -> SEGMENT_SCHEMA batches (one row per chunk×field×term plus the
    marker rows). Tokenizes with pyarrow.compute (RE2 split, C-side) and
    groups with numpy sorts — no per-token Python objects. Consecutive input
    batches coalesce into ~ARROW_CHUNK_DOCS-doc chunks; each chunk is one
    segment. ``_segment_writer_rows`` runs it and writes its output."""
    import pyarrow as pa

    flds = list(cfg.fields.items())
    tok = cfg.tokenizer
    arrow_schema = pa.schema(
        [
            pa.field("term", pa.string()),
            pa.field("field", pa.string()),
            pa.field("n", pa.int32()),
            pa.field("min_docid", pa.int64()),
            pa.field("max_docid", pa.int64()),
            pa.field("max_tf", pa.int32()),
            pa.field("min_doclen", pa.int64()),
            pa.field("ctf_part", pa.int64()),
            pa.field("docids", pa.binary()),
            pa.field("tfs", pa.binary()),
            pa.field("doclens", pa.binary()),
            pa.field("positions", pa.binary()),
        ]
    )
    stop_list = sorted(tok.stopwords)

    def bin_col(values: bytes, off: np.ndarray) -> "pa.Array":
        """Zero-copy binary column: per-term byte slices of a bulk-encoded
        stream are contiguous AND adjacent, so the term-boundary offsets over
        the original buffer ARE the Arrow offsets — no per-term slicing."""
        if off.size and int(off[-1]) > np.iinfo(np.int32).max:
            # pa.binary() offsets are int32: a >2GiB per-chunk stream would
            # silently wrap into a corrupt column. Never seen at the default
            # chunking (ARROW_CHUNK_DOCS); fail loudly instead of corrupting.
            raise ValueError(
                f"segment chunk stream is {int(off[-1])} bytes (> int32 "
                "offset range) — lower ARROW_CHUNK_DOCS / input batch size"
            )
        return pa.Array.from_buffers(
            pa.binary(),
            off.size - 1,
            [None, pa.py_buffer(off.astype(np.int32).tobytes()), pa.py_buffer(values)],
        )

    def one_field_chunk(fld: str, docid_np: np.ndarray, content: pa.Array):
        """One (chunk, field): tokenize + group -> (terms RecordBatch | None,
        doc-stats marker row | None). The batch columns are built directly
        from the bulk numpy/varint buffers (r02: the per-term Python row loop
        + pa.array(list-of-tuples) re-conversion was the last per-term Python
        in the kernel)."""
        lists = tok.tokens_arrow(content)
        offsets = lists.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        flat = lists.values
        if len(flat) == 0:
            return None, None
        enc = flat.dictionary_encode()
        codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        vocab = enc.dictionary
        # bad codes: empty string or stopword (vectorized membership on the
        # tiny per-chunk vocab)
        import pyarrow.compute as pc

        inv = None
        if tok.transforms_vocab:
            # analyzer rewrite at VOCAB level (once per distinct raw token
            # per chunk, never per occurrence): possessive-strip -> stopword
            # flag (on the normalized form, pre-stem, matching the Lucene
            # filter order) -> stem -> re-unify collapsed stems. `bad` stays
            # in the ORIGINAL code space; `inv` remaps kept codes below.
            vnorm = [tok.term_normalize(v) for v in vocab.to_pylist()]
            stopset = tok.stopwords
            bad = np.fromiter(
                ((v == "") or (v in stopset) for v in vnorm),
                dtype=bool,
                count=len(vnorm),
            )
            uniq, inv = np.unique(
                np.array([tok.term_stem(v) for v in vnorm], dtype=object),
                return_inverse=True,
            )
            vocab = pa.array(uniq.tolist(), type=pa.string())
        else:
            bad = pc.is_in(vocab, value_set=pa.array([""] + stop_list)).to_numpy(
                zero_copy_only=False
            )

        tok_counts = np.diff(offsets)  # raw tokens per doc
        doc_idx = np.repeat(np.arange(docid_np.size, dtype=np.int64), tok_counts)
        keep = ~bad[codes]
        codes_f = codes[keep]
        doc_f = doc_idx[keep]
        if inv is not None:
            # remap onto the unified stemmed vocabulary; occurrences of
            # distinct raw tokens collapsing to one stem interleave in stream
            # order, so per-(term, doc) positions stay ascending (the stable
            # argsort below preserves stream order within a key)
            codes_f = inv[codes_f]
        if codes_f.size == 0:
            return None, None
        # post-filter doclen + within-doc 0-based positions
        kept_counts = np.bincount(doc_f, minlength=docid_np.size)
        kept_starts = np.concatenate(([0], np.cumsum(kept_counts)[:-1]))
        pos_f = np.arange(doc_f.size, dtype=np.int64) - kept_starts[doc_f]

        # docid-ascending emission: rank docs by docid (input order within a
        # partition is docid order, but stay defensive)
        drank = np.empty(docid_np.size, dtype=np.int64)
        order_docs = np.argsort(docid_np, kind="stable")
        drank[order_docs] = np.arange(docid_np.size)
        docid_by_rank = docid_np[order_docs]
        kept_by_rank = kept_counts[order_docs]

        # group token stream by (term, doc): one posting per run
        key = codes_f * np.int64(docid_np.size) + drank[doc_f]
        order = np.argsort(key, kind="stable")  # positions stay ascending
        ks = key[order]
        run_start = np.flatnonzero(np.concatenate(([True], ks[1:] != ks[:-1])))
        run_key = ks[run_start]
        run_code = run_key // docid_np.size
        run_drank = run_key % docid_np.size
        tf = np.diff(np.append(run_start, ks.size)).astype(np.int64)
        run_docid = docid_by_rank[run_drank]
        run_doclen = kept_by_rank[run_drank].astype(np.int64)
        # positions leave the segment pass ALREADY varint-delta-encoded
        # (bit-identical to the final block format, so the merge phase
        # slices bytes instead of re-encoding the largest stream) — this
        # cut the segments table ~3x, and segment+merge I/O with it
        pos_bytes_all, post_byte_lens = positions_pack_flat(pos_f[order], tf)
        post_byte_off = np.concatenate(([0], np.cumsum(post_byte_lens)))

        # term runs over the posting arrays
        t_start = np.flatnonzero(
            np.concatenate(([True], run_code[1:] != run_code[:-1]))
        )
        t_end = np.append(t_start[1:], run_code.size)
        max_tf = np.maximum.reduceat(tf, t_start)
        min_dl = np.minimum.reduceat(run_doclen, t_start)
        ctf = np.add.reduceat(tf, t_start)

        # docids/tfs/doclens varint-packed too (v3): delta-gapped docids
        # restart absolute at each term run; ~4x fewer bytes cross the
        # Arrow boundary / shuffle / parquet than raw LE ints
        dgaps = np.empty(run_docid.size, dtype=np.int64)
        dgaps[0] = run_docid[0]
        np.subtract(run_docid[1:], run_docid[:-1], out=dgaps[1:])
        dgaps[t_start] = run_docid[t_start]
        d_bytes, d_off = varint_encode_with_offsets(dgaps.astype(np.uint64))
        t_bytes, t_off = varint_encode_with_offsets(tf.astype(np.uint64))
        l_bytes, l_off = varint_encode_with_offsets(run_doclen.astype(np.uint64))
        # one entry per TERM: boundary indices over the run arrays / byte
        # offsets (t_end[j] == t_start[j+1], so slices are adjacent)
        bounds = np.append(t_start, run_code.size)
        n_terms = t_start.size
        batch = pa.RecordBatch.from_arrays(
            [
                pc.take(vocab, pa.array(run_code[t_start])),
                pc.take(pa.array([fld]), np.zeros(n_terms, dtype=np.int64)),
                pa.array((t_end - t_start).astype(np.int32)),
                pa.array(run_docid[t_start]),
                pa.array(run_docid[t_end - 1]),
                pa.array(max_tf.astype(np.int32)),
                pa.array(min_dl.astype(np.int64)),
                pa.array(ctf.astype(np.int64)),
                bin_col(d_bytes, d_off[bounds]),
                bin_col(t_bytes, t_off[bounds]),
                bin_col(l_bytes, l_off[bounds]),
                bin_col(pos_bytes_all, post_byte_off[bounds]),
            ],
            schema=arrow_schema,
        )
        # doc-stats marker row (docs with zero post-filter tokens excluded,
        # matching the Lucene-norm-absent case)
        nz = kept_by_rank > 0
        md = docid_by_rank[nz].astype("<i8")
        ml = kept_by_rank[nz].astype("<i8")
        marker = None
        if md.size:
            marker = (
                DOCSTATS_MARKER, fld, int(md.size), int(md[0]),
                int(md[-1]), 1, int(ml.min()), 0,
                md.tobytes(), b"", ml.tobytes(), b"",
            )
        return batch, marker

    def gen(batches):
        # coalesce incoming Arrow batches (maxRecordsPerBatch-sized) into
        # ~ARROW_CHUNK_DOCS-doc chunks: amortizes per-chunk numpy overhead
        # and emits fewer, larger segments for the merge phase
        def chunks():
            buf: list = []
            n = 0
            for rb in batches:
                buf.append(rb)
                n += rb.num_rows
                if n >= ARROW_CHUNK_DOCS:
                    yield pa.Table.from_batches(buf)
                    buf, n = [], 0
            if buf:
                yield pa.Table.from_batches(buf)

        for tbl in chunks():
            docid_np = tbl.column("docid").to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            if docid_np.size == 0:
                continue
            order_docs = np.argsort(docid_np, kind="stable")
            ids_sorted = docid_np[order_docs].astype("<i8")
            exts = tbl.column("ext_docid").to_pylist()
            ext_blob = "\x00".join(exts[i] for i in order_docs).encode("utf-8")
            # marker rows (one docids row + one docstats row per field) stay
            # a tiny row-built batch; term rows stream out as the zero-copy
            # per-field batches
            rows: list = [
                (
                    DOCIDS_MARKER, "", int(ids_sorted.size), int(ids_sorted[0]),
                    int(ids_sorted[-1]), 0, 0, 0,
                    ids_sorted.tobytes(), b"", b"", ext_blob,
                )
            ]
            for fld, src in flds:
                content = tbl.column(src).combine_chunks()
                batch, marker = one_field_chunk(fld, docid_np, content)
                if marker is not None:
                    rows.append(marker)
                if batch is not None:
                    yield batch
            cols = list(zip(*rows))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[i], type=arrow_schema.field(i).type)
                    for i in range(len(arrow_schema))
                ],
                schema=arrow_schema,
            )

    return gen


def segment_rows(docs: DataFrame, cfg: BuildConfig) -> DataFrame:
    """Kernel dispatch (BuildConfig.kernel): arrow fast path vs python
    reference kernel — identical final index, asserted in tests."""
    if cfg.kernel == "arrow":
        return _segment_rows_arrow(docs, cfg)
    return _segment_rows(docs, cfg)


# --------------------------------------------------------------------------
# python-side parquet writes with manifest-listed commit (Iceberg-style)
# --------------------------------------------------------------------------
#
# The r02 executor-cluster scaling sweep isolated a ~6-9 s serial tail —
# driver scheduling + the JVM FileOutputCommitter's rename pass + the
# stats barrier (BENCH_SCALING.md "Warm executor-cluster size sweep").
# Two of the three shrink here:
#
# - The segment/packed payloads are written by the PYTHON workers
#   themselves (pyarrow.parquet, one file per task, row groups flushed
#   every ~128 MB): the index-sized binary columns never cross the
#   Python->JVM Arrow boundary (the measured IPC contention point on this
#   host) and the JVM writer/committer never touches them. Tasks return
#   only (file, rows) manifest rows.
# - Commit is a MANIFEST LISTING, not a directory state: the driver writes
#   `_manifest.json` naming exactly the files the succeeded tasks reported.
#   Readers read the listed files only, so a crashed attempt's orphans are
#   invisible (same correctness argument as Iceberg's manifest lists) and
#   there is no O(files) driver-side rename pass.
#
# Marker rows (doc_ids/doc_stats payloads) go to a SEPARATE file set so the
# stats phase reads only marker bytes. On a real cluster the same writer
# targets the object store via pyarrow.fs; locally it is the shared FS.


class _TaskParquetWriter:
    """Buffered per-task parquet writer: lazily opens the file on first
    row, flushes a row group every ~128 MB of Arrow buffers, and returns
    the row count on close (0 rows -> no file is ever created)."""

    FLUSH_BYTES = 128 << 20

    def __init__(self, path: str, codec: str = "snappy"):
        self.path = path
        self.codec = codec
        self._buf: list = []
        self._nbytes = 0
        self.rows = 0
        self._writer = None

    def write(self, rb) -> None:
        if rb.num_rows == 0:
            return
        self._buf.append(rb)
        self._nbytes += rb.nbytes
        self.rows += rb.num_rows
        if self._nbytes >= self.FLUSH_BYTES:
            self._flush()

    def _flush(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not self._buf:
            return
        tbl = pa.Table.from_batches(self._buf)
        if self._writer is None:
            self._writer = pq.ParquetWriter(
                self.path, tbl.schema, compression=self.codec
            )
        self._writer.write_table(tbl)
        self._buf, self._nbytes = [], 0

    def close(self) -> int:
        self._flush()
        if self._writer is not None:
            self._writer.close()
        return self.rows


class _KeyedRowGroupWriter:
    """One parquet file whose ROW GROUPS are exclusive to integer keys
    (merge buckets): rows written under key k land in row group(s)
    containing only key-k rows, so a reader with the key→row-group map can
    fetch one bucket's rows without touching the rest of the file. Written
    in ascending key order at close; a key whose buffer overflows the
    memory bound flushes early and simply spans several row groups.

    This is the segment pass's routing vehicle: ONE file per segment task
    (no small-file explosion for stats scans or file listings), with bucket
    co-location expressed a level down, in parquet's own unit of
    independent IO."""

    FLUSH_BYTES = 128 << 20

    def __init__(self, path: str, codec: str = "snappy"):
        self.path = path
        self.codec = codec
        self._buf: dict = {}
        self._nbytes: dict = {}
        self._total = 0
        self.rows = 0
        self._writer = None
        self.rg_keys: list = []
        self.rg_rows: list = []

    def write(self, key: int, rb) -> None:
        if rb.num_rows == 0:
            return
        self._buf.setdefault(key, []).append(rb)
        self._nbytes[key] = self._nbytes.get(key, 0) + rb.nbytes
        self._total += rb.nbytes
        self.rows += rb.num_rows
        # on overflow, flush largest keys until the buffer drops below half
        # the bound: flushing only the single largest key settles into one
        # small (~buffer/buckets) row group per incoming batch once rows
        # spread evenly across buckets, fragmenting row groups and bloating
        # the footers the merge must open
        if self._total >= self.FLUSH_BYTES:
            while self._total >= self.FLUSH_BYTES // 2 and self._nbytes:
                self._flush_key(max(self._nbytes, key=self._nbytes.get))

    def _flush_key(self, k: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = self._buf.pop(k, [])
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if self._writer is None:
            self._writer = pq.ParquetWriter(
                self.path, tbl.schema, compression=self.codec
            )
        self._writer.write_table(tbl, row_group_size=max(tbl.num_rows, 1))
        self.rg_keys.append(int(k))
        self.rg_rows.append(int(tbl.num_rows))
        self._total -= self._nbytes.pop(k)

    def close(self) -> tuple:
        for k in sorted(self._buf):
            self._flush_key(k)
        if self._writer is not None:
            self._writer.close()
        return self.rows, self.rg_keys, self.rg_rows


def _task_tag() -> str:
    import uuid

    from pyspark import TaskContext

    tc = TaskContext.get()
    pid = tc.partitionId() if tc is not None else 0
    return f"{pid:05d}-{uuid.uuid4().hex[:12]}"


WRITER_SCHEMA = "kind string, file string, rows long, extra string"


def _mbucket_of(term: str, n: int) -> int:
    """Deterministic merge-bucket of a term: crc32 is
    stable across processes/runs (unlike PYTHONHASHSEED-salted hash()), so
    a resumed segment stage routes identically."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n


def _segment_writer_rows(docs: DataFrame, cfg: BuildConfig, seg_dir: str) -> DataFrame:
    """Segment pass with python-side parquet write: each task runs the Arrow
    kernel and writes its term rows / marker rows to its own files under
    ``seg_dir``, returning (kind, file, rows) manifest rows.

    Term rows are routed into key-exclusive parquet ROW GROUPS of the
    task's single terms file (bucket = crc32(term) % merge_buckets, via
    _KeyedRowGroupWriter): every (term, field) group — hence every
    post-salt (term, field, salt) group — is co-located across segments by
    construction, so the merge phase row-group-prunes each bucket's rows
    directly instead of shuffling the whole segments table. The
    bucket→row-group map rides the manifest row's ``extra`` column into
    the side manifest. One terms file per task keeps stats scans and file
    listings free of small-file storms (the first cut, one file per bucket
    per task, made the stats stage 5-10x slower on footer storms)."""
    inner = _arrow_kernel_gen(cfg)
    codec = cfg.segment_codec
    n_mb = cfg.merge_buckets

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        tag = _task_tag()
        # both writers create their file on the first row written
        markers_f, terms_f = f"markers-{tag}.parquet", f"terms-{tag}.parquet"
        marker_writer = _TaskParquetWriter(os.path.join(seg_dir, markers_f), codec)
        term_writer = _KeyedRowGroupWriter(os.path.join(seg_dir, terms_f), codec)

        mb_cache: dict = {}
        ts_part: dict = {}  # (term, field) -> [df_part, ctf_part]

        def accum_term_stats(rb) -> None:
            # per-task partial term stats: segment rows are
            # unique per (chunk, field, term) over disjoint docids, so
            # df_part = sum(n), ctf_part = sum(ctf_part). The stats stage
            # then aggregates ~one tiny file per task instead of scanning
            # the (row-group-fragmented) segment metadata columns.
            terms = rb.column(0).to_pylist()
            fields = rb.column(1).to_pylist()
            ns = rb.column(2).to_numpy(zero_copy_only=False)
            ctfs = rb.column(7).to_numpy(zero_copy_only=False)
            for t, f, n, c in zip(terms, fields, ns, ctfs):
                e = ts_part.get((t, f))
                if e is None:
                    ts_part[(t, f)] = [int(n), int(c)]
                else:
                    e[0] += int(n)
                    e[1] += int(c)

        def write_terms(rb) -> None:
            if rb.num_rows == 0:
                # zero-row batch would make bounds [0, 0] below and the
                # routing loop would index sb[0] -> IndexError
                return
            accum_term_stats(rb)
            # vectorized routing: hash only the batch's UNIQUE terms (a
            # chunk's vocab, not its rows), map per-row via index_in, then
            # one stable sort + contiguous slices per bucket present.
            t = rb.column(0)
            uniq = pc.unique(t)
            ub = np.empty(len(uniq), dtype=np.int64)
            for i, u in enumerate(uniq.to_pylist()):
                b = mb_cache.get(u)
                if b is None:
                    b = mb_cache[u] = _mbucket_of(u, n_mb)
                ub[i] = b
            codes = pc.index_in(t, value_set=uniq).to_numpy(
                zero_copy_only=False
            )
            bks = ub[codes]
            order = np.argsort(bks, kind="stable")
            srt = rb.take(pa.array(order))
            sb = bks[order]
            bounds = np.flatnonzero(np.r_[True, np.diff(sb) != 0])
            bounds = np.r_[bounds, sb.size]
            for i in range(len(bounds) - 1):
                lo, hi = int(bounds[i]), int(bounds[i + 1])
                term_writer.write(int(sb[lo]), srt.slice(lo, hi - lo))

        mset = pa.array(MARKER_TERMS)
        for rb in inner(batches):
            mask = pc.is_in(rb.column(0), value_set=mset)
            n_m = pc.sum(mask).as_py() or 0
            if n_m == 0:
                write_terms(rb)
            elif n_m == rb.num_rows:
                marker_writer.write(rb)
            else:
                marker_writer.write(rb.filter(mask))
                write_terms(rb.filter(pc.invert(mask)))
        n, rg_keys, rg_rows = term_writer.close()
        out = [
            ("markers", markers_f, marker_writer.close(), None),
            ("terms", terms_f, n,
             json.dumps({"rg_keys": rg_keys, "rg_rows": rg_rows})),
        ]
        if ts_part:
            import pyarrow.parquet as pq

            keys = sorted(ts_part)
            ts_tbl = pa.table(
                {
                    "term": [k[0] for k in keys],
                    "field": [k[1] for k in keys],
                    "df": pa.array(
                        [ts_part[k][0] for k in keys], pa.int64()
                    ),
                    "ctf": pa.array(
                        [ts_part[k][1] for k in keys], pa.int64()
                    ),
                }
            )
            ts_name = f"termstats-{tag}.parquet"
            pq.write_table(
                ts_tbl, os.path.join(seg_dir, ts_name), compression=codec
            )
            out.append(("termstats", ts_name, len(keys), None))
        out = [(k, f, n, x) for k, f, n, x in out if n]
        if out:
            ks, fs, ns, xs = zip(*out)
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(ks), type=pa.string()),
                 pa.array(list(fs), type=pa.string()),
                 pa.array(list(ns), type=pa.int64()),
                 pa.array(list(xs), type=pa.string())],
                names=["kind", "file", "rows", "extra"],
            )

    cols = ["docid", "ext_docid"] + sorted({src for _, src in cfg.fields.items()})
    return docs.select(*cols).mapInArrow(gen, WRITER_SCHEMA)


def _salt_explode_table(tbl, heavy_terms: list, n_salts: int, max_docid: int):
    """Salt explode of one merge bucket's segment rows: heavy-term rows are
    repeated once per salt range their [min_docid, max_docid] span
    overlaps; everything else gets salt 0. Integer ``//`` on the
    non-negative docids, the same division the merge kernels' salt filter
    uses, so salt boundaries agree bit-for-bit."""
    import pyarrow as pa

    n = tbl.num_rows
    if heavy_terms:
        terms = np.asarray(tbl.column("term").to_pylist(), dtype=object)
        salted = np.isin(terms, np.asarray(heavy_terms, dtype=object))
    else:
        salted = np.zeros(n, dtype=bool)
    mind = tbl.column("min_docid").to_numpy(zero_copy_only=False).astype(np.int64)
    maxd = tbl.column("max_docid").to_numpy(zero_copy_only=False).astype(np.int64)
    lo = np.where(salted, (mind * n_salts) // (max_docid + 1), 0)
    hi = np.where(salted, (maxd * n_salts) // (max_docid + 1), 0)
    reps = hi - lo + 1
    if (reps == 1).all():
        salt = lo
        out = tbl
    else:
        idx = np.repeat(np.arange(n, dtype=np.int64), reps)
        out = tbl.take(pa.array(idx))
        starts = np.concatenate(([0], np.cumsum(reps)[:-1]))
        within = np.arange(idx.size, dtype=np.int64) - np.repeat(starts, reps)
        salt = np.repeat(lo, reps) + within
        salted = np.repeat(salted, reps)
    out = out.append_column("salted", pa.array(salted))
    out = out.append_column("salt", pa.array(salt.astype(np.int32)))
    return out


# routed segment rows one merge task takes on before the merge fans out:
# below it a task's fixed cost (scheduling, a Python worker, footer opens)
# outweighs the kernel work it would split off
MERGE_ROWS_PER_TASK = 4096


def _merge_kernel(
    n_salts: int, max_docid: int, block_size: int,
    chunk_postings: int | None, block_id_base: int = 0,
):
    """The merge kernel as one batches -> packed-batches function.
    ``block_id_base`` is added to every block id: an append's delta starts
    its blocks above the index's block-id high-water mark
    (index/append.py), so the staged files graft in unchanged."""
    return _offset_block_ids(
        make_merge_partition_vec(n_salts, max_docid, block_size, chunk_postings),
        block_id_base,
    )


def _offset_block_ids(inner, block_id_base: int):
    """``inner`` (a merge kernel) with ``block_id_base`` added to every
    block id of its output; ``inner`` itself when the base is 0."""
    if not block_id_base:
        return inner

    def offset(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        base = pa.scalar(block_id_base, pa.int32())
        for rb in inner(batches):
            i = rb.schema.get_field_index("block_id")
            yield rb.set_column(
                i, "block_id", pc.add_checked(rb.column(i), base)
            )

    return offset


def _bucketed_merge(
    spark: SparkSession, seg_dir: str, seg_man: dict, pk_dir: str,
    heavy_terms: list, n_salts: int, max_docid: int, block_size: int,
    merge_chunk_postings: int | None = None, block_id_base: int = 0,
) -> list:
    """SHUFFLE-FREE merge: one python task per bin of merge buckets reads
    those buckets' row groups of the segment files directly with pyarrow
    (the segment writer already co-located every (term, field) group by
    crc32 routing), salt-explodes heavy terms in numpy, runs the merge
    kernel, and writes one packed file per bucket python-side. Spark is
    pure orchestration — the only bytes on the wire are (bucket, file-list)
    out and (file, rows) back; there is no shuffle-map pass (the pass
    chain-12 event-log forensics measured inflating 6.3x in task-seconds
    under 4-executor co-residency), and the segments table crosses DRAM
    once. Packed rows do not depend on the routing: the kernel is
    deterministic per (term, field, salt) group and routing only changes
    which task a group lands in (tests/test_merge_bucketed.py).

    Buckets are scheduled longest-first (by routed row count) so the
    heaviest bucket — one stopword-grade keyword plus ~1/B of the Zipf
    tail — never lands last on a nearly-drained task queue. The task count
    follows the data: one task per ``MERGE_ROWS_PER_TASK`` routed segment
    rows, at most ``defaultParallelism`` and at most one per bucket, so a
    small append's delta merges in one task. Returns [(file, rows)]."""
    inner = _merge_kernel(
        n_salts, max_docid, block_size, merge_chunk_postings, block_id_base
    )

    rg_map = seg_man.get("rg_buckets")
    if rg_map is None or set(rg_map) != set(seg_man["files"]):
        missing = sorted(set(seg_man["files"]) - set(rg_map or {}))
        extra = sorted(set(rg_map or {}) - set(seg_man["files"]))
        parts = []
        if missing:
            parts.append(
                "no bucket→row-group map for "
                f"{missing[:3]}{'…' if len(missing) > 3 else ''}"
            )
        if extra:
            parts.append(
                "row-group map entries for files absent from the manifest: "
                f"{extra[:3]}{'…' if len(extra) > 3 else ''}"
            )
        raise ValueError(
            "merge: segment side manifest is inconsistent ("
            + "; ".join(parts or ["rg_buckets missing"])
            + ") — the manifest is corrupt or predates bucket routing; "
            "rebuild with resume=False"
        )
    # per bucket: [(file, [row-group indices])] + routed row count
    by: dict = {}
    rows_of: dict = {}
    for f, m in rg_map.items():
        per_file: dict = {}
        for i, (k, nr) in enumerate(zip(m["rg_keys"], m["rg_rows"])):
            per_file.setdefault(k, []).append(i)
            rows_of[k] = rows_of.get(k, 0) + nr
        for k, idxs in per_file.items():
            by.setdefault(k, []).append((f, idxs))
    if not by:
        return []
    # greedy bin-pack buckets (longest first, by routed rows) into one bin
    # per task — one per MERGE_ROWS_PER_TASK rows, at most one per core and
    # one per bucket: footer opens scale with tasks x files instead of
    # buckets x files, and the heaviest bucket leads its bin
    order = sorted(by, key=lambda k: -rows_of[k])
    by_rows = -(-sum(rows_of.values()) // MERGE_ROWS_PER_TASK)
    n_bins = max(
        1, min(spark.sparkContext.defaultParallelism, len(order), by_rows)
    )
    bins: list = [[] for _ in range(n_bins)]
    bin_rows = [0] * n_bins
    for k in order:
        i = bin_rows.index(min(bin_rows))
        bins[i].append((k, by[k]))
        bin_rows[i] += rows_of[k]
    bins.sort(key=lambda b: -sum(rows_of[k] for k, _ in b))
    heavy = sorted(heavy_terms)

    def run(it):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf_cache: dict = {}

        def pf(f):
            if f not in pf_cache:
                pf_cache[f] = pq.ParquetFile(os.path.join(seg_dir, f))
            return pf_cache[f]

        for chunk in it:
            for k, reads in chunk:
                parts = [pf(f).read_row_groups(idxs) for f, idxs in reads]
                tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
                if tbl.num_rows == 0:
                    continue
                tbl = _salt_explode_table(tbl, heavy, n_salts, max_docid)
                fname = f"packed-mb{k:04d}-{_task_tag()}.parquet"
                w = _TaskParquetWriter(os.path.join(pk_dir, fname))
                for rb in inner(tbl.to_batches()):
                    w.write(rb)
                n = w.close()
                if n:
                    yield (fname, n)

    return (
        spark.sparkContext.parallelize(bins, len(bins))
        .mapPartitions(run)
        .collect()
    )


def _write_side_manifest(dir_path: str, data: dict) -> None:
    tmp = os.path.join(dir_path, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(dir_path, "_manifest.json"))


def _side_manifest(dir_path: str) -> dict | None:
    p = os.path.join(dir_path, "_manifest.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _read_listed(spark: SparkSession, dir_path: str, names: list, schema) -> DataFrame:
    """Read exactly the manifest-listed files (uncommitted orphans stay
    invisible); the explicit schema avoids an inference job."""
    if not names:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(dir_path, n) for n in names]
    )


def _gather_runs(flat: np.ndarray, lengths: np.ndarray, order: np.ndarray) -> np.ndarray:
    """Reorder a flat array of variable-length runs (run i has
    lengths[i] elements) into run order `order` — fully vectorized."""
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    Ln = lengths[order]
    total = int(Ln.sum())
    if total == 0:
        return flat[:0]
    out_off = np.repeat(np.concatenate(([0], np.cumsum(Ln)[:-1])), Ln)
    idx = np.repeat(starts[order], Ln) + (np.arange(total) - out_off)
    return flat[idx]


def make_merge_group(n_salts: int, max_docid: int, block_size: int):
    """Per-group reference merge: one (term, field, salt) group of segment
    rows as a pandas frame -> its packed block rows. Only
    :func:`make_merge_partition` uses it."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        """One (term, field, salt) group of SEGMENT rows -> final packed
        block rows. Segments carry globally-disjoint docid ranges, so the
        merge is: order by min_docid, bulk-decode the CONCATENATED varint
        streams (one vectorized decode per stream per group — no per-row
        loop), keep only this salt's docid range (heavy terms only), re-cut
        into block_size blocks; positions pass through as byte slices."""
        pdf = pdf.sort_values("min_docid")
        term = pdf["term"].iloc[0]
        fld = pdf["field"].iloc[0]
        salt = int(pdf["salt"].iloc[0])
        salted = bool(pdf["salted"].iloc[0])

        n_per_row = pdf["n"].to_numpy().astype(np.int64)
        total = int(n_per_row.sum())
        db = b"".join(pdf["docids"].values)
        tb = b"".join(pdf["tfs"].values)
        lb = b"".join(pdf["doclens"].values)
        pb = b"".join(pdf["positions"].values)

        # docid gaps restart absolute at each segment row: reconstruct
        # per-row absolutes from the global cumsum with a per-row correction
        gaps = varint_decode(db, total).astype(np.int64)
        S = np.cumsum(gaps)
        starts = np.concatenate(([0], np.cumsum(n_per_row)[:-1]))
        corr = np.repeat(S[starts] - gaps[starts], n_per_row)
        d_all = S - corr
        t_all = varint_decode(tb, total).astype(np.int64)
        l_all = varint_decode(lb, total).astype(np.int64)
        p_all = np.frombuffer(pb, dtype=np.uint8)
        plen_all = positions_byte_lengths(pb, t_all)

        if salted:
            mask = (d_all * n_salts) // (max_docid + 1) == salt
            if not mask.all():
                keep = np.flatnonzero(mask)
                p_all = _gather_runs(p_all, plen_all, keep)
                plen_all = plen_all[keep]
                d_all, t_all, l_all = d_all[keep], t_all[keep], l_all[keep]
        if d_all.size == 0:
            return pd.DataFrame(
                {f.name: pd.Series([], dtype="object") for f in PACKED_SCHEMA.fields}
            ).astype({"salt": "int32", "block_id": "int32", "n": "int32",
                      "min_docid": "int64", "max_docid": "int64",
                      "max_tf": "int32", "min_doclen": "int64"}, errors="ignore")
        # segment ranges are usually disjoint-and-ordered, but the docid
        # assignment's pid-hash shuffle can interleave ranges within a task
        # — merge with an explicit sort (each docid occurs exactly once per
        # term, so this is a permutation, never a combine)
        if not np.all(np.diff(d_all) > 0):
            order = np.argsort(d_all, kind="stable")
            p_all = _gather_runs(p_all, plen_all, order)
            plen_all = plen_all[order]
            d_all, t_all, l_all = d_all[order], t_all[order], l_all[order]
        blocks = encode_blocks(
            d_all, t_all, l_all, block_size=block_size,
            pos_packed=(p_all, plen_all),
        )
        return pd.DataFrame(
            {
                "term": term, "field": fld, "salt": salt,
                "block_id": [b["block_id"] for b in blocks],
                "n": [b["n"] for b in blocks],
                "min_docid": [b["min_docid"] for b in blocks],
                "max_docid": [b["max_docid"] for b in blocks],
                "max_tf": [b["max_tf"] for b in blocks],
                "min_doclen": [b["min_doclen"] for b in blocks],
                "docids": [b["docids"] for b in blocks],
                "tfs": [b["tfs"] for b in blocks],
                "doclens": [b["doclens"] for b in blocks],
                "positions": [b["positions"] for b in blocks],
            },
            columns=[f.name for f in PACKED_SCHEMA.fields],
        )

    return merge_group


_PACKED_ARROW = None


def _packed_arrow_schema():
    global _PACKED_ARROW
    if _PACKED_ARROW is None:
        import pyarrow as pa

        _PACKED_ARROW = pa.schema(
            [
                pa.field("term", pa.string()),
                pa.field("field", pa.string()),
                pa.field("salt", pa.int32()),
                pa.field("block_id", pa.int32()),
                pa.field("n", pa.int32()),
                pa.field("min_docid", pa.int64()),
                pa.field("max_docid", pa.int64()),
                pa.field("max_tf", pa.int32()),
                pa.field("min_doclen", pa.int64()),
                pa.field("docids", pa.binary()),
                pa.field("tfs", pa.binary()),
                pa.field("doclens", pa.binary()),
                pa.field("positions", pa.binary()),
            ]
        )
    return _PACKED_ARROW


def make_merge_partition(n_salts: int, max_docid: int, block_size: int):
    """Reference merge kernel: salted segment rows holding complete
    (term, field, salt) groups -> packed block rows, one pandas group at a
    time. The build runs :func:`make_merge_partition_vec`; this per-group
    formulation is the bitwise reference tests/test_merge_vec.py holds it
    to."""
    import pyarrow as pa

    merge_group = make_merge_group(n_salts, max_docid, block_size)
    schema = _packed_arrow_schema()

    def merge_partition(batches):
        bl = list(batches)
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        if tbl.num_rows == 0:
            return
        pdf = tbl.to_pandas()
        # sort=True: groups (hence output rows) leave in (term, field, salt)
        # order, so each parquet row group's term min/max stats are tight and
        # the manifest-layout query scan prunes on the pushed term predicate
        outs = [
            merge_group(g)
            for _, g in pdf.groupby(["term", "field", "salt"], sort=True)
        ]
        res = pd.concat(outs, ignore_index=True)
        out_tbl = pa.Table.from_pandas(res, schema=schema, preserve_index=False)
        yield from out_tbl.to_batches(max_chunksize=4096)

    return merge_partition


def _binary_flat(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow binary column -> (flat uint8 data in row order, per-row byte
    lengths) without per-row python objects. Works on sliced/combined arrays
    by normalizing through the offsets buffer."""
    import pyarrow as pa

    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("segment binary columns must be non-null")
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    lens = np.diff(offs)
    if len(arr) == 0:
        return data[:0], lens
    # slice to the rows' actual span so `starts` below can assume cumsum(lens)
    data = data[offs[0] : offs[-1]]
    return data, lens


def make_merge_partition_vec(
    n_salts: int, max_docid: int, block_size: int,
    chunk_postings: int | None = None,
):
    """Vectorized twin of :func:`make_merge_partition` — bit-identical output
    (asserted by tests/test_merge_vec.py), one numpy pass per STREAM per
    chunk instead of per group.

    The per-group formulation spent more time in pandas than in byte work:
    profiling the 1M-file merge showed ~40% of the 74 s single-core kernel in
    per-group ``pd.DataFrame`` construction / ``sort_values`` / groupby
    bookkeeping (16k groups) and the rest split across 49k small varint
    calls. Here each chunk is ONE decode, ONE salt filter, ONE (rare)
    re-sort, ONE block cut and ONE varint encode per stream; the output
    binary columns are zero-copy ``BinaryArray.from_buffers`` slices of the
    chunk-wide streams (block slices are contiguous in stream order by
    construction). Group boundaries are numpy boundary arrays, so per-group
    cost is O(1) numpy rows, not a pandas frame.

    ``chunk_postings`` bounds the kernel's working set: the sorted rows are
    cut at group boundaries into runs of ~chunk_postings postings and each
    run makes a full decode→filter→encode pass of its own. The whole-
    partition formulation (chunk_postings=None) materializes ~8 int64
    temporaries of the full partition's posting count (~120 MB each at a
    1M-file merge partition) — a co-residency probe measured its per-task
    time inflating 5.7x when four pinned processes run on DISJOINT
    partitions (the box's shared memory system, not code), while the
    streaming segment kernel inflates only 1.18x. Chunking keeps the
    temporaries allocator/cache-resident across iterations; output rows and
    bytes are identical either way (the chunk cuts land on group boundaries
    and every computation is group-local)."""
    import pyarrow as pa

    def merge_partition(batches):
        bl = list(batches)
        if not bl:
            return
        tbl = pa.Table.from_batches(bl)
        if tbl.num_rows == 0:
            return
        nrows = tbl.num_rows

        term_r = np.asarray(tbl.column("term").to_pylist(), dtype=object)
        field_r = np.asarray(tbl.column("field").to_pylist(), dtype=object)
        salt_r = tbl.column("salt").to_numpy(zero_copy_only=False).astype(np.int64)
        salted_r = tbl.column("salted").to_numpy(zero_copy_only=False).astype(bool)
        n_r = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
        mind_r = tbl.column("min_docid").to_numpy(zero_copy_only=False).astype(np.int64)

        # ---- group order: (term, field, salt) ascending, rows by min_docid
        # inside each group (matches groupby(sort=True) + sort_values) -------
        tcode = np.unique(term_r, return_inverse=True)[1]
        fcode = np.unique(field_r, return_inverse=True)[1]
        order = np.lexsort((mind_r, salt_r, fcode, tcode))
        tcode, fcode = tcode[order], fcode[order]
        salt_r, salted_r = salt_r[order], salted_r[order]
        n_r, term_r, field_r = n_r[order], term_r[order], field_r[order]

        # flat binary streams stay in ORIGINAL row order; each chunk gathers
        # only its own rows via order[lo:hi]
        db, d_lens = _binary_flat(tbl.column("docids"))
        tb, t_lens = _binary_flat(tbl.column("tfs"))
        lb, l_lens = _binary_flat(tbl.column("doclens"))
        pb, p_lens = _binary_flat(tbl.column("positions"))

        # per-row group starts (boundary where any key changes), sorted order
        newg = np.ones(nrows, dtype=bool)
        if nrows > 1:
            newg[1:] = (
                (np.diff(tcode) != 0) | (np.diff(fcode) != 0)
                | (np.diff(salt_r) != 0)
            )

        # ---- group-aligned chunk row-ranges -------------------------------
        if chunk_postings and chunk_postings > 0:
            g_rows = np.flatnonzero(newg)  # first row of each group
            cum = np.concatenate(([0], np.cumsum(n_r)))
            # chunk index of each group by its starting posting offset
            cidx = cum[g_rows] // chunk_postings
            newc = np.ones(len(g_rows), dtype=bool)
            if len(g_rows) > 1:
                newc[1:] = np.diff(cidx) != 0
            cut_rows = g_rows[np.flatnonzero(newc)]
            ranges = list(zip(cut_rows, np.concatenate((cut_rows[1:], [nrows]))))
        else:
            ranges = [(0, nrows)]

        for lo, hi in ranges:
            lo, hi = int(lo), int(hi)
            n_c = n_r[lo:hi]
            total = int(n_c.sum())
            if total == 0:
                continue
            ord_c = order[lo:hi]
            db_c = _gather_runs(db, d_lens, ord_c)
            tb_c = _gather_runs(tb, t_lens, ord_c)
            lb_c = _gather_runs(lb, l_lens, ord_c)
            pb_c = _gather_runs(pb, p_lens, ord_c)

            # chunk-local group ids (a chunk always starts at a group start)
            newg_c = newg[lo:hi].copy()
            newg_c[0] = True
            gid_r = np.cumsum(newg_c) - 1

            # ---- decode chunk streams once --------------------------------
            gaps = varint_decode(db_c.tobytes(), total).astype(np.int64)
            S = np.cumsum(gaps)
            rstarts = np.concatenate(([0], np.cumsum(n_c)[:-1]))
            corr = np.repeat(S[rstarts] - gaps[rstarts], n_c)
            d_all = S - corr
            t_all = varint_decode(tb_c.tobytes(), total).astype(np.int64)
            l_all = varint_decode(lb_c.tobytes(), total).astype(np.int64)
            p_all = pb_c
            plen_all = positions_byte_lengths(p_all.tobytes(), t_all)
            gid = np.repeat(gid_r, n_c)

            # ---- salt filter (vectorized across every salted group) --------
            salted_c = salted_r[lo:hi]
            if salted_c.any():
                salted_p = np.repeat(salted_c, n_c)
                salt_p = np.repeat(salt_r[lo:hi], n_c)
                mask = ~salted_p | ((d_all * n_salts) // (max_docid + 1) == salt_p)
                if not mask.all():
                    keep = np.flatnonzero(mask)
                    p_all = _gather_runs(p_all, plen_all, keep)
                    plen_all = plen_all[keep]
                    d_all, t_all, l_all = d_all[keep], t_all[keep], l_all[keep]
                    gid = gid[keep]

            # ---- per-group ascending-docid repair (pid-hash interleaving) --
            if d_all.size > 1:
                bad = (np.diff(d_all) <= 0) & (np.diff(gid) == 0)
                if bad.any():
                    bad_g = np.zeros(int(gid_r[-1]) + 1, dtype=bool)
                    bad_g[gid[np.flatnonzero(bad)]] = True
                    bad_g[gid[np.flatnonzero(bad) + 1]] = True
                    member = bad_g[gid]
                    idx = np.flatnonzero(member)
                    sub = idx[np.lexsort((d_all[idx], gid[idx]))]
                    perm = np.arange(d_all.size)
                    perm[idx] = sub
                    p_all = _gather_runs(p_all, plen_all, perm)
                    plen_all = plen_all[perm]
                    d_all, t_all, l_all = d_all[perm], t_all[perm], l_all[perm]
                    # gid is unchanged by an in-group permutation

            if d_all.size == 0:
                continue

            # ---- per-group posting spans (groups emptied by the filter) ----
            gnew = np.ones(d_all.size, dtype=bool)
            gnew[1:] = np.diff(gid) != 0
            gstarts = np.flatnonzero(gnew)
            gends = np.concatenate((gstarts[1:], [d_all.size]))
            g_ids = gid[gstarts]  # chunk-local group id of each survivor
            # chunk row index of each group's first row (term/field/salt)
            g_first_row = lo + np.flatnonzero(newg_c)[g_ids]

            # ---- block structure -------------------------------------------
            m = gends - gstarts
            nblk = (m + block_size - 1) // block_size
            tot_blk = int(nblk.sum())
            first_blk = np.concatenate(([0], np.cumsum(nblk)[:-1]))
            local = np.arange(tot_blk) - np.repeat(first_blk, nblk)
            bstarts = np.repeat(gstarts, nblk) + local * block_size
            bends = np.minimum(bstarts + block_size, np.repeat(gends, nblk))

            # ---- encode streams once, block-absolute docid restarts --------
            gaps_out = np.empty(d_all.size, dtype=np.int64)
            gaps_out[0] = d_all[0]
            np.subtract(d_all[1:], d_all[:-1], out=gaps_out[1:])
            gaps_out[bstarts] = d_all[bstarts]
            d_bytes, d_off = varint_encode_with_offsets(gaps_out.astype(np.uint64))
            t_bytes, t_off = varint_encode_with_offsets(t_all.astype(np.uint64))
            l_bytes, l_off = varint_encode_with_offsets(l_all.astype(np.uint64))
            p_off = np.concatenate(([0], np.cumsum(plen_all)))

            def bin_col(stream: bytes, off: np.ndarray) -> "pa.Array":
                # consecutive blocks tile the stream: offsets at block starts
                # plus the final end — zero-copy BinaryArray
                cut = np.concatenate((off[bstarts], [off[int(bends[-1])]]))
                if cut[-1] > np.iinfo(np.int32).max:
                    raise ValueError("chunk stream exceeds 2GB binary limit")
                return pa.Array.from_buffers(
                    pa.binary(), tot_blk,
                    [None, pa.py_buffer(cut.astype(np.int32).tobytes()),
                     pa.py_buffer(stream)],
                )

            max_tf_b = np.maximum.reduceat(t_all, bstarts)
            min_dl_b = np.minimum.reduceat(l_all, bstarts)
            out_tbl = pa.Table.from_arrays(
                [
                    pa.array(np.repeat(term_r[g_first_row], nblk), type=pa.string()),
                    pa.array(np.repeat(field_r[g_first_row], nblk), type=pa.string()),
                    pa.array(np.repeat(salt_r[g_first_row], nblk).astype(np.int32)),
                    pa.array(local.astype(np.int32)),
                    pa.array((bends - bstarts).astype(np.int32)),
                    pa.array(d_all[bstarts]),
                    pa.array(d_all[bends - 1]),
                    pa.array(max_tf_b.astype(np.int32)),
                    pa.array(min_dl_b),
                    bin_col(d_bytes, d_off),
                    bin_col(t_bytes, t_off),
                    bin_col(l_bytes, l_off),
                    bin_col(bytes(p_all.tobytes()), p_off),
                ],
                schema=_packed_arrow_schema(),
            )
            yield from out_tbl.to_batches(max_chunksize=4096)

    return merge_partition


# --------------------------------------------------------------------------
# manifest
# --------------------------------------------------------------------------


class Manifest:
    def __init__(self, path: str):
        self.path = path
        self.data = {"stages": {}, "counters": {}, "lineage": {}}
        if os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def stage_done(self, name: str) -> bool:
        return self.data["stages"].get(name, {}).get("done", False)

    def mark_stage(self, name: str, **counters) -> None:
        self.data["stages"][name] = {"done": True, "ts": time.time(), **counters}
        for k, v in counters.items():
            if isinstance(v, (int, float)):
                self.data["counters"][k] = self.data["counters"].get(k, 0) + v
        self._flush()

    def set_lineage(self, **kv) -> None:
        self.data["lineage"].update(kv)
        self._flush()

    def _flush(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


def field_sums(fields) -> list:
    """Per-field doc count and doclen sum over (field, doclen) rows as flat
    conditional aggregates, to observe on a doc_stats write (no groupBy,
    no read-back job)."""
    out = []
    for fld in sorted(fields):
        is_f = F.col("field") == fld
        out += [
            F.sum(F.when(is_f, 1).otherwise(0)).alias(f"n__{fld}"),
            F.sum(F.when(is_f, F.col("doclen")).otherwise(0)).alias(f"len__{fld}"),
        ]
    return out


def by_field_stats(metrics, fields) -> dict:
    """corpus_stats.json's ``by_field`` from observed ``field_sums``."""
    by_field = {}
    for fld in sorted(fields):
        n_f = int(metrics[f"n__{fld}"] or 0)
        len_f = int(metrics[f"len__{fld}"] or 0)
        by_field[fld] = {
            "n_docs": n_f,
            "sum_doclen": len_f,
            "avgdl": len_f / n_f if n_f else 0.0,
        }
    return by_field


class StepClock:
    """Wall seconds per step of one maintenance call (append, delete,
    compact): ``lap(name)`` charges the time since the previous lap to
    ``name``. ``report()`` floors the steps and ceils the total to the
    millisecond, so the reported steps never sum past the reported
    ``sec``."""

    def __init__(self):
        self.t0 = self.last = time.perf_counter()
        self.steps: dict[str, float] = {}

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.steps[name] = self.steps.get(name, 0.0) + now - self.last
        self.last = now

    def report(self) -> dict:
        return {
            "sec": math.ceil((time.perf_counter() - self.t0) * 1000) / 1000,
            "steps_s": {
                k: math.floor(v * 1000) / 1000 for k, v in self.steps.items()
            },
        }


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------


def _config_echo(cfg: BuildConfig) -> dict:
    """The config subset recorded in lineage and validated on resume — shared
    by the batch build and the streaming ingest (streaming/ingest.py) so the
    two paths can never drift on what counts as 'the same build'."""
    return {
        "segment_format": 3,  # v3: all posting streams varint-packed in segments
        "n_buckets": cfg.n_buckets,
        "block_size": cfg.block_size,
        "salt_threshold": cfg.salt_threshold,
        "n_salts": cfg.n_salts,
        "fields": sorted(cfg.fields),
        "tokenizer": cfg.tokenizer.name,
    }


def read_segment_markers(spark: SparkSession, out_dir: str) -> DataFrame:
    """Marker rows only (doc_ids/doc_stats payloads): the side manifest
    lists them as a file set of their own."""
    seg_dir = f"{out_dir}/segments"
    return _read_listed(
        spark, seg_dir, _side_manifest(seg_dir)["marker_files"], SEGMENT_SCHEMA
    )


TERMSTAT_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("ctf", T.LongType()),
    ]
)


def read_termstat_partials(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-task partial term stats written by the segment pass: one tiny
    file per segment task with (term, field) already combined within the
    task. Aggregating these is equivalent to aggregating the segment
    metadata columns (sums of partial sums over disjoint docid ranges) but
    reads ~KBs per task instead of scanning the row-group-fragmented
    segments table."""
    seg_dir = f"{out_dir}/segments"
    return _read_listed(
        spark, seg_dir, _side_manifest(seg_dir)["termstat_files"],
        TERMSTAT_PARTIAL_SCHEMA,
    )


def read_packed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The packed-blocks table: exactly the files its side manifest lists.
    The pushed term predicate is checked against per-row-group term
    min/max stats, which prune only when a file holds several row groups:
    merge output is sorted by term within each file, but a small file is
    one row group spanning its whole term range (every file of a
    2,000-file index is), so its stats skip nothing and a term read opens
    every file."""
    pk_dir = f"{out_dir}/packed"
    man = _side_manifest(pk_dir)
    if man is None:
        raise ValueError(
            f"{pk_dir} has no _manifest.json: the packed table is not "
            "committed, or predates the manifest-listed layout — rebuild"
        )
    return _read_listed(spark, pk_dir, man["files"], PACKED_SCHEMA)


def _bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def build_persistent_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: BuildConfig,
    resume: bool = True,
    block_id_base: int = 0,
    fail_after_step: str | None = None,
) -> dict:
    """Build (or resume) the on-disk index. ``docs`` must carry docid,
    ext_docid and the source columns named in cfg.fields.
    ``block_id_base`` offsets every block id (an append's delta build; 0
    for an index of its own). ``fail_after_step`` injects a crash after
    that step — ``segments``, ``packed_written`` (packed files written,
    side manifest not yet committed) or ``packed`` (before the stats
    stage) — used by the resume test only. Returns the manifest
    counters."""
    out = cfg.out_dir
    seg_dir, pk_dir = f"{out}/segments", f"{out}/packed"
    os.makedirs(out, exist_ok=True)
    man = Manifest(os.path.join(out, "manifest.json"))
    if not resume:
        man.data = {"stages": {}, "counters": {}, "lineage": {}}

    config_echo = _config_echo(cfg)

    # ---- resume validation ----------------------------------------------
    # A manifest with completed stages must describe THIS invocation:
    # config echo and the keys-only input fingerprint are recomputed and
    # compared, so resuming with a changed corpus or different BuildConfig
    # fails loudly instead of silently mixing stale and fresh stages.
    if resume and man.stage_done("segments"):
        lin = man.data["lineage"]
        mism = [k for k, v in config_echo.items() if lin.get(k) != v]
        if mism:
            raise ValueError(
                f"resume config mismatch vs manifest at {man.path}: "
                + ", ".join(f"{k}: manifest={lin.get(k)!r} now={config_echo[k]!r}" for k in mism)
                + " — pass resume=False (or a fresh out_dir) to rebuild"
            )
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("ext_docid")).alias("x"),
        ).first()
        fp_now = f"{row['x']:x}" if row["n"] else "empty"
        if lin.get("n_docs") != row["n"] or lin.get("input_fingerprint") != fp_now:
            raise ValueError(
                f"resume input mismatch vs manifest at {man.path}: "
                f"n_docs manifest={lin.get('n_docs')} now={row['n']}, "
                f"fingerprint manifest={lin.get('input_fingerprint')} now={fp_now}"
                " — the corpus changed; pass resume=False to rebuild"
            )

    # ---- stage: per-partition packed SEGMENTS ---------------------------
    # The Lucene-style segment pass (north-star: "build per-partition sorted
    # posting lists, merge segment postings into a global inverted index").
    # One Arrow pass over the docs; each chunk of docs becomes a SEGMENT:
    # per (field, term) ONE row holding the chunk's varint-packed postings.
    # Output volume ≈ vocab-size rows per chunk (binary-packed), i.e. the
    # JVM<->Python boundary carries ~index-sized data instead of one row per
    # (doc, term) — the 11.8M-row doc_terms materialization this replaces
    # spent more time in Arrow serialization than in tokenization.
    # Docids are contiguous per input partition (range-assigned at ingest),
    # so segments have globally DISJOINT docid ranges: the merge phase is a
    # concatenation in min_docid order, never an interleave.
    # Lineage (doc count + order-independent keys fingerprint) rides the
    # SAME job as Observation metrics on the input scan — zero extra jobs.
    # Keys only: content integrity is covered by the per-row sha256(content)
    # invariant in the pytest gate. doc_ids need no scan of their own either:
    # the kernel emits per-chunk (docid, ext_docid) marker rows that the
    # stats stage decodes.
    if not man.stage_done("segments"):
        t_stage = time.time()
        # python-side parquet write + manifest-listed commit (see the writer
        # section above): the index-sized binary never re-crosses the
        # Python->JVM boundary and there is no committer rename pass. New
        # segments invalidate any packed output a prior build left in this
        # out_dir (incl. a stale packed _manifest.json, which would
        # otherwise be mistaken for a completed merge on resume).
        shutil.rmtree(seg_dir, ignore_errors=True)
        shutil.rmtree(pk_dir, ignore_errors=True)
        os.makedirs(seg_dir)
        obs = Observation("lineage")
        observed = docs.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.bit_xor(F.xxhash64("ext_docid")).alias("fp"),
        )
        wrows = _segment_writer_rows(observed, cfg, seg_dir).collect()

        def listed(kind: str) -> list:
            return sorted(r["file"] for r in wrows if r["kind"] == kind)

        _write_side_manifest(
            seg_dir,
            {
                "format": 1,
                "n_buckets": cfg.n_buckets,
                "merge_buckets": cfg.merge_buckets,
                "files": listed("terms"),
                "marker_files": listed("markers"),
                "termstat_files": listed("termstats"),
                "rg_buckets": {
                    r["file"]: json.loads(r["extra"])
                    for r in wrows
                    if r["kind"] == "terms"
                },
            },
        )
        m = obs.get
        n_docs = int(m["n_docs"])
        fp = f"{m['fp']:x}" if n_docs else "empty"
        man.set_lineage(n_docs=n_docs, input_fingerprint=fp, **config_echo)
        man.mark_stage(
            "segments",
            docs_tokenized=n_docs,
            segments_sec=round(time.time() - t_stage, 2),
        )
    if fail_after_step == "segments":
        raise RuntimeError("injected failure after step segments")

    man_lock = threading.Lock()

    # ---- stage: doc_ids + doc_stats + term_stats + corpus_stats ---------
    # Three small independent writes, submitted CONCURRENTLY (Spark
    # schedules the jobs side by side): doc_ids and doc_stats decode only
    # the marker rows (their own file set), term_stats aggregates the
    # per-task partials. Corpus aggregates and row counts ride the writes
    # as Observation metrics — no read-back jobs. Deferred into a closure so
    # this stats barrier can OVERLAP the merge job (they read disjoint
    # segment file sets).
    def run_stats() -> None:
        t_stage = time.time()
        markers = read_segment_markers(spark, out)

        ds_schema = "docid long, field string, doclen long"

        def decode_docstats(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    d = np.frombuffer(row.docids, dtype="<i8")
                    L = np.frombuffer(row.doclens, dtype="<i8")
                    outs.append(
                        pd.DataFrame(
                            {
                                "docid": d.astype("int64"),
                                "field": row.field,
                                "doclen": L,
                            }
                        )
                    )
                yield (
                    pd.concat(outs, ignore_index=True)
                    if outs
                    else pd.DataFrame(
                        {
                            "docid": pd.Series([], dtype="int64"),
                            "field": pd.Series([], dtype="object"),
                            "doclen": pd.Series([], dtype="int64"),
                        }
                    )
                )

        def decode_docids(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    d = np.frombuffer(row.docids, dtype="<i8")
                    exts = row.positions.decode("utf-8").split("\x00")
                    outs.append(
                        pd.DataFrame(
                            {"docid": d.astype("int64"), "ext_docid": exts}
                        )
                    )
                yield (
                    pd.concat(outs, ignore_index=True)
                    if outs
                    else pd.DataFrame(
                        {
                            "docid": pd.Series([], dtype="int64"),
                            "ext_docid": pd.Series([], dtype="object"),
                        }
                    )
                )

        # per-field corpus aggregates ride the doc_stats write as Observation
        # metrics (fields are known from cfg, so a flat conditional aggregate
        # replaces the groupBy + a second read-back job over doc_stats)
        ds_obs = Observation("corpus_stats")
        ts_obs = Observation("n_terms")

        def write_doc_stats():
            (
                markers.where(F.col("term") == DOCSTATS_MARKER)
                .select("field", "n", "docids", "doclens")
                .mapInPandas(decode_docstats, ds_schema)
                .observe(ds_obs, *field_sums(cfg.fields))
                .write.mode("overwrite")
                .parquet(f"{out}/doc_stats")
            )

        def write_doc_ids():
            (
                markers.where(F.col("term") == DOCIDS_MARKER)
                .select("docids", "positions")
                .mapInPandas(decode_docids, "docid long, ext_docid string")
                .write.mode("overwrite")
                .parquet(f"{out}/doc_ids")
            )

        def write_term_stats():
            (
                read_termstat_partials(spark, out)
                .groupBy("term", "field")
                .agg(
                    F.sum("df").cast("long").alias("df"),
                    F.sum("ctf").cast("long").alias("ctf"),
                )
                .withColumn("bucket", _bucket_col(F.col("term"), cfg.n_buckets))
                .observe(ts_obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(f"{out}/term_stats")
            )

        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(f)
                for f in (write_doc_stats, write_doc_ids, write_term_stats)
            ]
            for fut in futs:
                fut.result()

        stats = {
            "n_docs": man.data["lineage"]["n_docs"],
            "by_field": by_field_stats(ds_obs.get, cfg.fields),
        }
        with open(f"{out}/corpus_stats.json", "w") as f:
            json.dump(stats, f, indent=1)
        with man_lock:
            man.mark_stage(
                "stats", n_terms=int(ts_obs.get["n"]),
                stats_sec=round(time.time() - t_stage, 2),
            )

    # max docid for range salting (from lineage — docids are dense 1..N)
    max_docid = int(man.data["lineage"]["n_docs"])
    threshold = cfg.salt_threshold

    # heavy terms collected ONCE (tiny: df > threshold can only be a handful
    # of stopword-grade terms) and shipped to the merge tasks as a list.
    # Computed from the term-stat partials, NOT from term_stats — the merge
    # must not wait on the stats stage it overlaps. df never exceeds the doc
    # count, so a build of at most `threshold` docs (a small append's delta)
    # has no heavy term and runs no job here.
    heavy_terms: list = []
    if max_docid > threshold and not man.stage_done("packed"):
        heavy_terms = [
            r["term"]
            for r in read_termstat_partials(spark, out)
            .groupBy("term", "field")
            .agg(F.sum("df").alias("df"))
            .where(F.col("df") > threshold)
            .select("term")
            .distinct()
            .collect()
        ]

    # ---- stats ∥ merge ---------------------------------------------------
    # The stats jobs read only marker files + term-stat partials; the merge
    # reads the term rows — disjoint inputs, no ordering edge. The stats
    # barrier therefore OVERLAPS the merge job instead of preceding it. An
    # injected failure runs them in sequence, merge first, so every crash
    # point of the resume test is deterministic.
    stats_pool = stats_fut = None
    if not man.stage_done("stats") and fail_after_step is None:
        stats_pool = ThreadPoolExecutor(max_workers=1)
        stats_fut = stats_pool.submit(run_stats)
    try:
        if not man.stage_done("packed"):
            t_merge = time.time()
            pk_man = _side_manifest(pk_dir)
            if pk_man is None:
                # nothing committed: files a crashed attempt wrote here are
                # orphans, cleared so the committed set is this merge's alone
                shutil.rmtree(pk_dir, ignore_errors=True)
                os.makedirs(pk_dir)
                wfiles = _bucketed_merge(
                    spark, seg_dir, _side_manifest(seg_dir), pk_dir,
                    heavy_terms, cfg.n_salts, max_docid, cfg.block_size,
                    cfg.merge_chunk_postings, block_id_base,
                )
                if fail_after_step == "packed_written":
                    raise RuntimeError("injected failure after step packed_written")
                pk_man = {
                    "format": 1,
                    "n_buckets": cfg.n_buckets,
                    "files": sorted(f for f, _ in wfiles),
                    "total_rows": int(sum(n for _, n in wfiles)),
                }
                _write_side_manifest(pk_dir, pk_man)
            # else: a crash landed between the side-manifest commit and this
            # mark — the packed files ARE committed, only the mark is missing
            with man_lock:
                man.mark_stage(
                    "packed",
                    total_blocks=pk_man["total_rows"],
                    blocks_written=pk_man["total_rows"],
                    buckets_sec=round(time.time() - t_merge, 2),
                )
        if fail_after_step == "packed":
            raise RuntimeError("injected failure after step packed")
        if not man.stage_done("stats") and stats_fut is None:
            run_stats()
    finally:
        # a failed merge must not leave the stats jobs writing behind it
        if stats_pool is not None:
            stats_pool.shutdown(wait=True)
    if stats_fut is not None:
        stats_fut.result()  # the overlapped stats job's exception, if any
    return dict(man.data["counters"], **man.data["lineage"])


# --------------------------------------------------------------------------
# read side
# --------------------------------------------------------------------------


_BY_KEY = [("field", "ascending"), ("term", "ascending")]


def _frozen(col) -> np.ndarray:
    """An Arrow column as a read-only int64 numpy array (lookups hand out
    views of it)."""
    a = col.to_numpy().astype(np.int64)
    a.flags.writeable = False
    return a


class TermVocab:
    """An index generation's whole ``term_stats``, resident on the driver as
    flat numpy columns sorted by (field, term): ``index[field][term]`` is a
    term's row ``v``, and ``df[v]``, ``ctf[v]`` its stats. The same row
    indexes the term's block slice in ``BlockColumns``. ``nbytes``
    approximates the footprint (the columns plus the index dicts, keys and
    values); ``load_s`` is the read's wall time."""

    def __init__(self, ts, t0: float):
        import sys

        self.index: dict[str, dict[str, int]] = {}
        for v, (fld, term) in enumerate(
            zip(ts["field"].to_pylist(), ts["term"].to_pylist())
        ):
            self.index.setdefault(fld, {})[term] = v
        self.df, self.ctf = _frozen(ts["df"]), _frozen(ts["ctf"])
        self.nbytes = self.df.nbytes + self.ctf.nbytes + sys.getsizeof(self.index) + sum(
            sys.getsizeof(ix)
            + sum(sys.getsizeof(t) + sys.getsizeof(v) for t, v in ix.items())
            for ix in self.index.values()
        )
        self.load_s = time.perf_counter() - t0

    def row(self, term: str, fld: str) -> int | None:
        """The term's row, or None when the field has no such term."""
        return self.index.get(fld, {}).get(term)


class BlockColumns:
    """An index generation's whole block metadata, resident on the driver:
    every packed block's plain ``META_COLS`` plus ``file`` (the packed file
    holding it) as flat numpy columns sorted by (field, term). Vocabulary
    row ``v``'s blocks are ``cols[c][lo[v]:hi[v]]``, in scan order (packed
    file, then row). ``nbytes`` is the columns' size; ``load_s`` the read's
    wall time."""

    def __init__(self, packed, vocab: TermVocab, t0: float):
        import pyarrow.compute as pc

        self.lo = np.zeros(len(vocab.df), np.int64)
        self.hi = np.zeros(len(vocab.df), np.int64)
        # one [start, stop) per (field, term) run
        f, t = packed["field"], packed["term"]
        cut = pc.or_(pc.not_equal(f[1:], f[:-1]), pc.not_equal(t[1:], t[:-1]))
        starts = np.flatnonzero(cut.to_numpy(zero_copy_only=False)) + 1
        if packed.num_rows:
            starts = np.concatenate(([0], starts))
        stops = np.append(starts[1:], packed.num_rows)
        for start, stop, fld, term in zip(
            starts.tolist(), stops.tolist(),
            f.take(starts).to_pylist(), t.take(starts).to_pylist(),
        ):
            # both tables are written from the same postings, so every
            # packed term has a term_stats row
            v = vocab.row(term, fld)
            if v is not None:
                self.lo[v], self.hi[v] = start, stop
        self.lo.flags.writeable = self.hi.flags.writeable = False
        self.cols = {c: _frozen(packed[c]) for c in META_COLS[2:] + ["file"]}
        self.nbytes = self.lo.nbytes + self.hi.nbytes + sum(
            a.nbytes for a in self.cols.values()
        )
        self.load_s = time.perf_counter() - t0


class DriverReads:
    """Driver-side pyarrow reads of one index generation, cached: its term
    stats (``TermVocab``) and block metadata (``BlockColumns``), each read
    whole on first use; the tombstone set; the pyarrow datasets over
    packed, term_stats, doc_ids and tombstones — plus ``memo``, values the
    query planners derive once per index (the ext-id type,
    ``StrictMath.log`` of each BM25 idf argument).

    The resident metadata is bounded by the generation's block count, not
    by the queried vocabulary: 64 B per block (eight int64 columns) plus
    ~144 B per term (index, stats, slice bounds). The serve benchmark's
    index (10,460 blocks, 2,038 terms) holds 0.96 MB, 92 B per block, read
    in 0.09 s on a 4-core host. The block metadata is read whole because
    merge buckets hash terms across every packed file, so even one term's
    read opens them all.

    The index directory is immutable between lifecycle commits (append,
    delete and compact each open a NEW PackedIndex), so nothing here is
    ever invalidated. Serving threads share one PackedIndex: the resident
    metadata loads under its own lock (concurrent first queries wait for
    the one load, and a failed load caches nothing, so the next call
    retries it); every other cache access goes through one lock, file
    reads run outside it, and when two threads miss the same key both read
    it and the first stored value wins."""

    def __init__(self, index_dir: str, n_deleted: int):
        self.dir = index_dir
        self.n_deleted = n_deleted
        self._lock = threading.Lock()
        self._load_lock = threading.Lock()
        self._datasets: dict = {}
        self._vocab: TermVocab | None = None
        self._blocks: BlockColumns | None = None
        self._tombstones: np.ndarray | None = None
        # the packed dataset's fragments, and each one's index by path
        self._frags: tuple[list, dict[str, int]] | None = None
        self._memo: dict = {}

    def dataset(self, name: str):
        """pyarrow dataset over one table of the index. ``packed`` lists
        exactly the side-manifest files (uncommitted orphans stay invisible,
        the contract read_packed gives Spark); None when the manifest lists
        no file. The dataset object keeps parsed footers, so it is built
        once."""
        import pyarrow.dataset as pads

        with self._lock:
            if name not in self._datasets:
                path = os.path.join(self.dir, name)
                if name == "packed":
                    files = [
                        os.path.join(path, n) for n in _side_manifest(path)["files"]
                    ]
                    dset = pads.dataset(files, format="parquet") if files else None
                else:
                    dset = pads.dataset(path, format="parquet")
                self._datasets[name] = dset
            return self._datasets[name]

    def vocab(self) -> TermVocab:
        """The generation's term stats: one read of term_stats on first use."""
        if self._vocab is None:
            with self._load_lock:
                if self._vocab is None:
                    self._vocab = self._load_vocab()
        return self._vocab

    def blocks(self) -> BlockColumns:
        """The generation's block metadata: one read of every packed file's
        plain columns on first use."""
        if self._blocks is None:
            vocab = self.vocab()
            with self._load_lock:
                if self._blocks is None:
                    self._blocks = self._load_blocks(vocab)
        return self._blocks

    def _load_vocab(self) -> TermVocab:
        t0 = time.perf_counter()
        ts = self.dataset("term_stats").to_table(columns=["term", "field", "df", "ctf"])
        return TermVocab(ts.sort_by(_BY_KEY), t0)

    def _load_blocks(self, vocab: TermVocab) -> BlockColumns:
        """The sort is stable, so a term's blocks keep the scan's order."""
        import pyarrow as pa

        t0 = time.perf_counter()
        dset = self.dataset("packed")
        if dset is None:  # an empty index
            packed = pa.table({
                c: pa.array([], pa.string() if c in ("term", "field") else pa.int64())
                for c in META_COLS + ["file"]
            })
        else:
            file_ix = self._packed_fragments(dset)[1]
            scan = dset.scanner(columns=META_COLS)
            batches, files = [], []
            for tagged in scan.scan_batches():
                batches.append(tagged.record_batch)
                files.append(
                    np.full(tagged.record_batch.num_rows, file_ix[tagged.fragment.path])
                )
            packed = pa.Table.from_batches(batches, scan.projected_schema).append_column(
                "file", pa.array(np.concatenate(files or [np.zeros(0, np.int64)]))
            )
        return BlockColumns(packed.sort_by(_BY_KEY), vocab, t0)

    def term_stats(self, terms: list[str], fld: str) -> dict[str, tuple[int, int]]:
        """term -> (df, ctf) for the terms present in ``fld``."""
        vocab = self.vocab()
        rows = {t: vocab.row(t, fld) for t in terms}
        return {
            t: (int(vocab.df[v]), int(vocab.ctf[v])) for t, v in rows.items()
            if v is not None
        }

    def block_meta(self, terms: list[str], fld: str) -> list[dict[str, np.ndarray]]:
        """Per term, its blocks' metadata as {column: numpy array}, read-only
        views of ``BlockColumns`` (empty for an absent term): the plain
        columns of ``packed`` plus ``file``, an index for ``packed_table``."""
        vocab, blk = self.vocab(), self.blocks()
        out = []
        for t in terms:
            v = vocab.row(t, fld)
            lo, hi = (0, 0) if v is None else (int(blk.lo[v]), int(blk.hi[v]))
            out.append({c: a[lo:hi] for c, a in blk.cols.items()})
        return out

    def _packed_fragments(self, dset) -> tuple[list, dict[str, int]]:
        with self._lock:
            if self._frags is None:
                frags = list(dset.get_fragments())
                self._frags = frags, {f.path: i for i, f in enumerate(frags)}
            return self._frags

    def packed_table(self, files: np.ndarray, columns: list[str], filter):
        """Rows of ``packed`` matching ``filter`` read from the listed files
        only (indices from ``block_meta``'s ``file`` column): a query's
        blocks sit in a few of the packed files, and a whole-dataset scan
        opens every one of them (row-group stats rarely skip a file, see
        ``read_packed``)."""
        import pyarrow.dataset as pads

        dset = self.dataset("packed")
        frags = self._packed_fragments(dset)[0]
        sub = pads.FileSystemDataset(
            [frags[int(i)] for i in files], dset.schema, dset.format, dset.filesystem
        )
        return sub.to_table(columns=columns, filter=filter)

    def memo(self, key, build):
        """The value cached under ``key``, built by ``build()`` on the first
        call. For values derived from this index generation alone (the
        ext-id type, idf logs): bounded by the distinct keys asked."""
        with self._lock:
            if key in self._memo:
                return self._memo[key]
        value = build()
        with self._lock:
            return self._memo.setdefault(key, value)

    def ext_ids(self, docids: list[int]) -> dict:
        """docid -> ext_docid as stored, for the given docids: a docid IN
        read of the docid-sorted doc_ids parquet (row-group min/max stats
        skip every group without a candidate). Not cached."""
        import pyarrow.compute as pc

        tbl = self.dataset("doc_ids").to_table(
            columns=["docid", "ext_docid"], filter=pc.field("docid").isin(docids)
        )
        return dict(zip(tbl["docid"].to_pylist(), tbl["ext_docid"].to_pylist()))

    def tombstones(self) -> np.ndarray | None:
        """Sorted tombstoned docids, or None when the index has none."""
        if not self.n_deleted:
            return None
        with self._lock:
            cached = self._tombstones
        if cached is None:
            tbl = self.dataset("tombstones").to_table(columns=["docid"])
            cached = np.sort(tbl["docid"].to_numpy().astype(np.int64))
            with self._lock:
                self._tombstones = cached
        return cached


@dataclass
class CorpusStats:
    """Driver-side broadcast of the tiny per-field aggregates."""

    n_docs: int  # numDocs() analog — LIVE docs in the index
    by_field: dict  # field -> {"n_docs": int, "sum_doclen": int, "avgdl": float}

    def avgdl(self, fld: str) -> float:
        return self.by_field[fld]["avgdl"]

    def sum_doclen(self, fld: str) -> int:
        return self.by_field[fld]["sum_doclen"]


class PackedIndex:
    """The queryable index over the persisted layout: term scans decode
    packed varint blocks (term-pruned parquet read + Arrow-batched numpy
    decode); block-max metadata reads touch only the small plain columns.
    ``reads`` is the driver's own pyarrow view of the same files
    (DriverReads).

    Spark-side tables: ``doc_ids`` (docid, ext_docid), ``doc_stats``
    (docid, field, doclen) and ``term_stats`` (term, field, df, ctf) —
    the first two minus tombstoned docs — plus ``packed`` (one row per
    posting block). ``corpus`` holds the live per-field aggregates,
    ``tokenizer_name`` the analyzer the index was built with (Engine
    validates its query tokenizer against it — the §1.4 invariant)."""

    def __init__(self, spark: SparkSession, out_dir: str, cfg: BuildConfig | None = None):
        self.spark = spark
        self.dir = out_dir
        # refuse (or roll forward) a compaction that crashed mid-commit,
        # and roll forward a journaled delete commit (pure file ops)
        from search_engine_spark.index.compact import check_not_inflight
        from search_engine_spark.index.deletes import recover_delete_inflight

        check_not_inflight(out_dir)
        recover_delete_inflight(out_dir)
        with open(f"{out_dir}/corpus_stats.json") as f:
            st = json.load(f)
        man = Manifest(os.path.join(out_dir, "manifest.json"))
        self.n_buckets = int(man.data["lineage"]["n_buckets"])
        # block size drives the query-side pruning gate (runner._pruned_topk)
        self.block_size = int(man.data["lineage"].get("block_size", BLOCK_SIZE))
        packed = read_packed(spark, out_dir)
        # live-docs tombstones (index/deletes.py): corpus.n_docs is the LIVE
        # count (Lucene numDocs semantics — QryopSlScore.java:118); per-field
        # sums and df/ctf stay stale until compaction, like Lucene's
        self.n_deleted = int(man.data["lineage"].get("n_deleted", 0))
        # docs physically removed by past compactions (index/compact.py):
        # corpus_stats.json keeps the build-time docid high-water mark in
        # n_docs (the append path's base), so live N subtracts BOTH counters
        # — updated in one atomic manifest write, N is correct on either
        # side of every compaction commit step
        self.n_purged = int(man.data["lineage"].get("n_purged", 0))
        self.tombstones = None
        t_dir = os.path.join(out_dir, "tombstones")
        if self.n_deleted and not os.path.isdir(t_dir):
            # post-recovery this state is unreachable via the journaled
            # delete/compact protocols — refuse rather than silently
            # subtract n_deleted from live N while filtering nothing
            raise RuntimeError(
                f"index at {out_dir} records n_deleted={self.n_deleted} but "
                "has no tombstones table — delete commit corrupted; restore "
                "from snapshot or rebuild"
            )
        if self.n_deleted and os.path.isdir(t_dir):
            self.tombstones = spark.read.parquet(t_dir)
        # the forward index is not materialized: doc_terms_for decodes it
        # from the packed postings on demand
        self.doc_ids = self._live(spark.read.parquet(f"{out_dir}/doc_ids"))
        self.doc_stats = self._live(spark.read.parquet(f"{out_dir}/doc_stats"))
        self.term_stats = spark.read.parquet(f"{out_dir}/term_stats")
        self.corpus = CorpusStats(
            n_docs=st["n_docs"] - self.n_purged - self.n_deleted,
            by_field=st["by_field"],
        )
        self.fields = tuple(sorted(st["by_field"]))
        self.tokenizer_name = man.data["lineage"].get("tokenizer")
        self.packed = packed
        self.reads = DriverReads(out_dir, self.n_deleted)

    def _live(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned docids (no-op without deletes): a map-side
        broadcast anti-join while the tombstone set fits the broadcast gate,
        a distributed left_anti past it."""
        if self.tombstones is None:
            return df
        t = self.tombstones
        if self.n_deleted <= int(
            os.environ.get("SPARK_GRAFT_TOMBSTONES_BROADCAST_MAX", 10_000_000)
        ):
            t = F.broadcast(t)
        return df.join(t, "docid", "left_anti")

    # -- metadata-only scan (column-pruned: no binary columns read) --------
    def blocks_meta(self, pairs: list[tuple[str, str]]) -> DataFrame:
        cond = self._pairs_cond(pairs)
        return self.packed.where(cond).select(*META_COLS)

    def _pairs_cond(self, pairs):
        from functools import reduce

        return reduce(
            lambda a, b: a | b,
            [(F.col("term") == t) & (F.col("field") == f) for t, f in pairs],
        )

    # -- decode scan -------------------------------------------------------
    def postings_for(
        self,
        pairs: list[tuple[str, str]],
        with_positions: bool = False,
        block_filter: DataFrame | None = None,
        block_keys: list[tuple[str, str, int, int]] | None = None,
        coalesce_to: int | None = None,
    ) -> DataFrame:
        """(term, field) pairs -> postings-shaped DataFrame
        (term, field, docid, tf, doclen[, positions], df, ctf).

        The parquet scan is pruned to the terms' row groups; decode is an
        Arrow-batched numpy loop (no per-row Python). ``block_filter``
        (term, field, salt, block_id) DataFrame restricts to surviving
        blocks via a broadcast join; ``block_keys`` is the same restriction
        as a PUSHED PREDICATE — per-(term, field, salt) block_id IN-lists
        that reach the parquet row-group stats, no join in the plan. The
        block-max pruning hook uses keys below a size gate and the join
        past it (an IN-list of millions of ids stops being a predicate)."""
        from search_engine_spark.index.codec import decode_block

        scan_cols = [
            "term", "field", "salt", "block_id", "n",
            "docids", "tfs", "doclens",
        ]
        if with_positions:
            scan_cols.append("positions")
        scan = self.packed.where(self._pairs_cond(pairs)).select(*scan_cols)
        if block_keys is not None:
            by_tfs: dict[tuple, list[int]] = {}
            for t, f, s, b in block_keys:
                by_tfs.setdefault((t, f, s), []).append(b)
            cond = None
            for (t, f, s), bids in sorted(by_tfs.items()):
                c = (
                    (F.col("term") == t)
                    & (F.col("field") == f)
                    & (F.col("salt") == s)
                    & F.col("block_id").isin(bids)
                )
                cond = c if cond is None else (cond | c)
            scan = scan.where(cond if cond is not None else F.lit(False))
        if block_filter is not None:
            scan = scan.join(
                F.broadcast(block_filter), ["term", "field", "salt", "block_id"]
            )
        if coalesce_to is not None:
            # caller-planned stage sizing: when block metadata says the
            # filtered scan is tiny, fewer splits = fewer per-task python
            # worker roundtrips (coalesce, no shuffle). At scale the split
            # count tracks surviving blocks anyway; local files are tiny and
            # per-file splits would otherwise dominate the stage.
            scan = scan.coalesce(max(1, coalesce_to))

        out_fields = [
            T.StructField("term", T.StringType()),
            T.StructField("field", T.StringType()),
            T.StructField("docid", T.LongType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("doclen", T.LongType()),
        ]
        if with_positions:
            out_fields.append(T.StructField("positions", T.ArrayType(T.IntegerType())))
        out_schema = T.StructType(out_fields)

        def decode_iter(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    blk = {
                        "n": row.n, "docids": row.docids, "tfs": row.tfs,
                        "doclens": row.doclens,
                    }
                    if with_positions:
                        blk["positions"] = row.positions
                        d, t, L, P = decode_block(blk, with_positions=True)
                    else:
                        d, t, L = decode_block(blk)
                    df_ = pd.DataFrame(
                        {
                            "term": row.term, "field": row.field,
                            "docid": d.astype("int64"),
                            "tf": t.astype("int32"),
                            "doclen": L.astype("int64"),
                        }
                    )
                    if with_positions:
                        df_["positions"] = pd.Series(
                            [p.astype("int32") for p in P], dtype="object"
                        )
                    outs.append(df_)
                if outs:
                    yield pd.concat(outs, ignore_index=True)
                else:
                    yield pd.DataFrame(
                        {
                            "term": pd.Series([], dtype="object"),
                            "field": pd.Series([], dtype="object"),
                            "docid": pd.Series([], dtype="int64"),
                            "tf": pd.Series([], dtype="int32"),
                            "doclen": pd.Series([], dtype="int64"),
                            **(
                                {"positions": pd.Series([], dtype="object")}
                                if with_positions
                                else {}
                            ),
                        }
                    )

        decoded = self._live(scan.mapInPandas(decode_iter, out_schema))
        # df/ctf ride in via broadcast join with term_stats (tiny per query)
        st = self.term_stats.where(
            self._pairs_cond(pairs)
        ).select("term", "field", "df", "ctf")
        return decoded.join(F.broadcast(st), ["term", "field"])

    def term_postings(self, term: str, fld: str) -> DataFrame:
        return self.postings_for([(term, fld)], with_positions=True)

    # -- forward-index slice (TermVector analog) ---------------------------
    def doc_terms_for(
        self, docids, fld: str, with_positions: bool = False
    ) -> DataFrame:
        """Decode-on-demand forward index from the packed postings
        (hw5/QryEval/TermVector.java:19-89 is random-access on the Lucene
        index; here a docid-range-pruned scan). The scan keeps only blocks
        whose [min_docid, max_docid] span intersects the requested ids —
        parquet row-group min/max stats prune the rest — then the decode
        kernel emits rows for the requested docids only. Cost is ~one block
        per term per requested docid-cluster: the expected shape for
        inverting an inverted index for a ≤fbDocs-sized doc set (PRF/LeToR),
        not a full-corpus materialization."""
        ids = sorted({int(d) for d in docids})
        if not ids:
            raise ValueError("empty docid set")
        lo, hi = ids[0], ids[-1]
        scan_cols = ["term", "field", "n", "docids", "tfs"]
        if with_positions:
            scan_cols.append("positions")
        scan = self.packed.where(
            (F.col("field") == fld)
            & (F.col("min_docid") <= hi)
            & (F.col("max_docid") >= lo)
        ).select(*scan_cols)

        ids_arr = np.asarray(ids, dtype=np.int64)
        out_fields = [
            T.StructField("docid", T.LongType()),
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
        ]
        if with_positions:
            out_fields.append(
                T.StructField("positions", T.ArrayType(T.IntegerType()))
            )

        from search_engine_spark.index.codec import (
            delta_decode, positions_decode, varint_decode,
        )

        def decode_iter(batches):
            for pdf in batches:
                outs = []
                for row in pdf.itertuples(index=False):
                    # decode docids/tfs only (doclens unused here)
                    d = delta_decode(varint_decode(row.docids, row.n))
                    mask = np.isin(d, ids_arr)
                    if not mask.any():
                        continue
                    t = varint_decode(row.tfs, row.n).astype(np.int64)
                    sel = np.flatnonzero(mask)
                    frame = {
                        "docid": pd.Series(d[sel], dtype="int64"),
                        "field": row.field,
                        "term": row.term,
                        "tf": pd.Series(t[sel], dtype="int32"),
                    }
                    if with_positions:
                        plists = positions_decode(row.positions, t)
                        frame["positions"] = pd.Series(
                            [plists[i].astype("int32") for i in sel],
                            dtype="object",
                        )
                    outs.append(pd.DataFrame(frame))
                if outs:
                    yield pd.concat(outs, ignore_index=True)
                else:
                    empty = {
                        "docid": pd.Series([], dtype="int64"),
                        "field": pd.Series([], dtype="object"),
                        "term": pd.Series([], dtype="object"),
                        "tf": pd.Series([], dtype="int32"),
                    }
                    if with_positions:
                        empty["positions"] = pd.Series([], dtype="object")
                    yield pd.DataFrame(empty)

        return self._live(scan.mapInPandas(decode_iter, T.StructType(out_fields)))
