"""Compaction: physically purge tombstoned docs (index/deletes.py) and
refresh the stale statistics — the Lucene merge analog of the reference's
index lifecycle (deletes are masked at read via ``liveDocs``,
hw5/QryEval/InvList.java:84-86, until a segment merge rewrites the data
and the collection stats go fresh again).

Contract: after ``compact_index`` the index is query-equivalent to a fresh
build over the live documents (same internal docids — docids are STABLE
across compaction, unlike a Lucene merge; external ids are unaffected
either way). df/ctf/avgdl/per-field sums all go live; the tombstone table
disappears.

Scale shape (the part that matters at 10^12 files):

- the postings rewrite is a single mapInPandas pass over the packed table
  in which every block whose [min_docid, max_docid] span contains NO
  tombstone passes through byte-identical (two ``searchsorted`` probes
  against the broadcast sorted tombstone array — no decode); only blocks
  intersecting deleted docs are decoded, filtered, and re-encoded. Work is
  proportional to the blocks the deletes touch, not the corpus.
- the term-stats refresh is a DELTA: the deleted docs' per-(term, field)
  df/ctf contributions come from the docid-range-pruned forward decode
  (``doc_terms_for`` — the same ≤fbDocs-shaped scan PRF uses), subtracted
  from the stale table. Cost ∝ deleted docs, never a corpus re-aggregation.
- doc dimension tables are rewritten with a broadcast anti-join.

Commit order (each dir staged as ``<name>.compact`` then swapped): the
manifest flips ``n_deleted -> 0`` and accumulates ``n_purged`` in ONE
atomic write, and ``PackedIndex`` computes live N as
``build_n_docs - n_purged - n_deleted``, so N stays correct on either side
of every swap; a crash window can only leave by-field avgdl briefly stale,
never N wrong. The docid space is never renumbered, so the append path's
``base = n_docs`` high-water mark (index/append.py) is unaffected.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.index.deletes import tombstones_path
from search_engine_spark.index.persist import (
    PACKED_SCHEMA,
    Manifest,
    PackedIndex,
    StepClock,
    _side_manifest,
    _write_side_manifest,
    by_field_stats,
    field_sums,
)


INFLIGHT = "compact_inflight.json"


def check_not_inflight(out_dir: str) -> None:
    """Guard against a compaction that crashed mid-commit here. The four
    table swaps are individually atomic but not jointly; a crash between
    them leaves a mix of fresh and stale tables that a blind re-run would
    compound (delta double-subtraction or a stale delta). If the journaled
    generation already appears in the manifest, the crash happened AFTER
    the atomic manifest commit — roll forward (drop the consumed tombstone
    table + journal). Otherwise refuse loudly: restore the index from the
    previous snapshot or rebuild."""
    p = os.path.join(out_dir, INFLIGHT)
    if not os.path.exists(p):
        return
    with open(p) as f:
        j = json.load(f)
    man = Manifest(os.path.join(out_dir, "manifest.json"))
    done = {c["generation"] for c in man.data["lineage"].get("compactions", [])}
    if j.get("generation") in done:
        shutil.rmtree(tombstones_path(out_dir), ignore_errors=True)
        os.remove(p)
        return
    raise RuntimeError(
        f"compaction generation {j.get('generation')} crashed mid-commit "
        f"in {out_dir} (started {j.get('ts')}); table state may mix "
        "fresh and stale statistics — restore from snapshot or rebuild"
    )


def _swap_dir(out_dir: str, name: str) -> None:
    cur = os.path.join(out_dir, name)
    new = os.path.join(out_dir, name + ".compact")
    old = os.path.join(out_dir, name + ".gc")
    shutil.rmtree(old, ignore_errors=True)
    os.replace(cur, old)
    os.replace(new, cur)
    shutil.rmtree(old, ignore_errors=True)


def _rewrite_packed(
    spark: SparkSession, pidx: PackedIndex, ts_ids: np.ndarray, tmp: str
) -> tuple[int, int]:
    """Purge tombstoned postings from the packed table into ``tmp``.
    Returns (blocks after, blocks before), both counted by Observations on
    the one rewrite job — no read-back."""
    from search_engine_spark.index.codec import decode_block, encode_blocks

    ts_b = spark.sparkContext.broadcast(np.sort(ts_ids))

    def gen(batches):
        ts = ts_b.value
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                # no tombstone inside [min_docid, max_docid] -> byte-identical
                # pass-through, no decode
                lo = np.searchsorted(ts, row.min_docid)
                if lo >= ts.size or ts[lo] > row.max_docid:
                    outs.append(row._asdict())
                    continue
                blk = {
                    "n": row.n, "docids": row.docids, "tfs": row.tfs,
                    "doclens": row.doclens, "positions": row.positions,
                }
                d, t, L, P = decode_block(blk, with_positions=True)
                keep = ~np.isin(d, ts)
                if not keep.any():
                    continue  # block fully deleted
                sel = np.flatnonzero(keep)
                enc = encode_blocks(
                    d[sel], t[sel], L[sel],
                    pos_lists=[P[i] for i in sel],
                    block_size=max(int(sel.size), 1),
                )
                (b,) = enc  # single block by construction
                outs.append(
                    {
                        "term": row.term, "field": row.field,
                        "salt": row.salt, "block_id": row.block_id,
                        "n": b["n"], "min_docid": b["min_docid"],
                        "max_docid": b["max_docid"], "max_tf": b["max_tf"],
                        "min_doclen": b["min_doclen"], "docids": b["docids"],
                        "tfs": b["tfs"], "doclens": b["doclens"],
                        "positions": b["positions"],
                    }
                )
            cols = [f.name for f in PACKED_SCHEMA.fields]
            yield (
                pd.DataFrame(outs, columns=cols)
                if outs
                else pd.DataFrame({c: pd.Series([], dtype="object") for c in cols})
            )

    obs_in, obs_out = Observation("blocks_before"), Observation("blocks_after")
    scan = pidx.packed.select([f.name for f in PACKED_SCHEMA.fields])
    out_df = (
        scan.observe(obs_in, F.count(F.lit(1)).alias("n"))
        .mapInPandas(gen, PACKED_SCHEMA)
        .observe(obs_out, F.count(F.lit(1)).alias("n"))
    )
    shutil.rmtree(tmp, ignore_errors=True)
    out_df.write.parquet(tmp)
    files = sorted(
        f for f in os.listdir(tmp) if f.endswith(".parquet")
    )
    total = int(obs_out.get["n"])
    old_man = _side_manifest(os.path.join(pidx.dir, "packed"))
    side = {
        "format": 1,
        "n_buckets": old_man["n_buckets"],
        "files": files,
        "total_rows": total,
    }
    # block ids SURVIVE compaction (only block contents shrink), so the old
    # high-water mark remains a valid bound and MUST carry forward: after a
    # compaction shrinks df, the next append's fallback hwm
    # (ceil(max(df)/block_size)+1) could land BELOW surviving appended-
    # generation block ids, minting duplicate (term,field,salt,block_id)
    # identities — the uniqueness invariant append.py documents and the
    # block-max pruner keys on.
    if "block_id_hwm" in old_man:
        side["block_id_hwm"] = int(old_man["block_id_hwm"])
    _write_side_manifest(tmp, side)
    return total, int(obs_in.get["n"])


def _stats_delta(pidx: PackedIndex, ts_ids: list) -> DataFrame:
    """(term, field, df_del, ctf_del): the deleted docs' contributions,
    from the docid-range-pruned forward decode."""
    parts = [
        pidx.doc_terms_for(ts_ids, fld).select("term", "field", "tf")
        for fld in pidx.fields
    ]
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    return allf.groupBy("term", "field").agg(
        F.count(F.lit(1)).cast("long").alias("df_del"),
        F.sum("tf").cast("long").alias("ctf_del"),
    )


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Purge all tombstones from the index at ``out_dir`` in place and
    return the compaction's counters, with the wall seconds of each step in
    ``steps_s``. No-op (returns ``n_purged=0``) when there are none."""
    from search_engine_spark.index.deletes import recover_delete_inflight

    clock = StepClock()
    check_not_inflight(out_dir)
    recover_delete_inflight(out_dir)
    man = Manifest(os.path.join(out_dir, "manifest.json"))
    lin = man.data["lineage"]
    n_del = int(lin.get("n_deleted", 0))
    if n_del == 0:
        return {"n_purged": 0}
    gen = len(lin.get("compactions", [])) + 1

    # raw (unmasked) view: the delta pass must see the doomed docs
    pidx = PackedIndex(spark, out_dir)
    pidx.tombstones, pidx.n_deleted = None, 0
    ts_rows = spark.read.parquet(tombstones_path(out_dir)).collect()
    ts_ids = np.asarray(sorted(r["docid"] for r in ts_rows), dtype=np.int64)
    clock.lap("open")

    # ---- stage fresh tables aside (no visible change yet) -----------------
    delta = _stats_delta(pidx, [int(d) for d in ts_ids])
    ts_new = (
        pidx.term_stats.join(delta, ["term", "field"], "left")
        .select(
            "term", "field",
            (F.col("df") - F.coalesce(F.col("df_del"), F.lit(0))).alias("df"),
            (F.col("ctf") - F.coalesce(F.col("ctf_del"), F.lit(0))).alias("ctf"),
            "bucket",
        )
        .where(F.col("df") > 0)
    )
    ts_new.write.mode("overwrite").parquet(f"{out_dir}/term_stats.compact")
    clock.lap("term_stats")

    blocks_after, blocks_before = _rewrite_packed(
        spark, pidx, ts_ids, f"{out_dir}/packed.compact"
    )
    clock.lap("packed")

    ts_df = F.broadcast(
        spark.createDataFrame([(int(d),) for d in ts_ids], "docid long")
    )
    # fresh per-field aggregates for corpus_stats.json ride the doc_stats
    # write as Observation metrics (n_docs key stays the BUILD-TIME docid
    # high-water mark — see module docstring)
    ds_obs = Observation("corpus_stats")

    def live(name: str) -> DataFrame:
        return spark.read.parquet(f"{out_dir}/{name}").join(
            ts_df, "docid", "left_anti"
        )

    (
        live("doc_stats")
        .observe(ds_obs, *field_sums(pidx.fields))
        .write.mode("overwrite")
        .parquet(f"{out_dir}/doc_stats.compact")
    )
    live("doc_ids").write.mode("overwrite").parquet(f"{out_dir}/doc_ids.compact")
    by_field = by_field_stats(ds_obs.get, pidx.fields)
    clock.lap("doc_tables")

    # ---- commit ------------------------------------------------------------
    # journal the commit: individually-atomic swaps, jointly guarded —
    # a crash inside this section leaves the journal behind and every
    # subsequent open/compact refuses loudly (check_not_inflight)
    inflight = os.path.join(out_dir, INFLIGHT)
    with open(inflight, "w") as f:
        json.dump({"generation": gen, "ts": time.time()}, f)
    for name in ("packed", "term_stats", "doc_stats", "doc_ids"):
        _swap_dir(out_dir, name)
    with open(f"{out_dir}/corpus_stats.json") as f:
        st = json.load(f)
    st["by_field"] = by_field
    tmp = f"{out_dir}/corpus_stats.json.tmp"
    with open(tmp, "w") as f:
        json.dump(st, f, indent=1)
    os.replace(tmp, f"{out_dir}/corpus_stats.json")
    clock.lap("commit")

    entry = {
        "generation": gen,
        "n_purged": n_del,
        "blocks_before": blocks_before,
        "blocks_after": blocks_after,
        **clock.report(),
        "ts": time.time(),
    }
    # ONE atomic manifest write: n_deleted -> 0 and n_purged accumulate
    # together, so live N (= n_docs - n_purged - n_deleted) never double-
    # or under-counts across the commit
    man.set_lineage(
        n_deleted=0,
        n_purged=int(lin.get("n_purged", 0)) + n_del,
        compactions=lin.get("compactions", []) + [entry],
    )
    os.remove(inflight)
    shutil.rmtree(tombstones_path(out_dir), ignore_errors=True)
    return entry
