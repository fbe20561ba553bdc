"""Live-docs deletes (SURVEY.md §2.2 P3): Lucene-faithful tombstones.

The reference skips deleted docs while materializing a posting list
(hw5/QryEval/InvList.java:84-86, the ``liveDocs`` bitset walk) but reads
every statistic from the index unchanged — in Lucene, ``docFreq``,
``totalTermFreq`` and ``getSumTotalTermFreq`` are NOT delete-aware; only
``numDocs()`` (the N in the BM25 idf, QryopSlScore.java:118) counts live
documents. Deletes here replicate exactly that contract:

- a **tombstones** table (docid) rides next to the packed index; the
  decode paths (``postings_for``, ``doc_terms_for``) and the doc dimension
  tables drop tombstoned docids;
- ``corpus.n_docs`` becomes the live count (numDocs semantics);
- ``df``/``ctf``/``avgdl``/per-field sums stay STALE until a compaction
  rewrites the affected data — the same stale-until-merge behavior a
  Lucene index exhibits.

``delete_docs`` is an O(tombstones) metadata operation: no posting block
is touched. The table swaps in atomically (write-aside + rename, the same
pattern as the append's term_stats swap) and the manifest lineage logs
every delete generation with counters.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.index.persist import Manifest, StepClock

TOMBSTONES = "tombstones"
DELETE_INFLIGHT = "delete_inflight.json"


def tombstones_path(out_dir: str) -> str:
    return os.path.join(out_dir, TOMBSTONES)


def recover_delete_inflight(out_dir: str) -> None:
    """Roll a crashed delete commit forward (idempotent, pure file ops).

    The commit protocol journals the intended final state BEFORE the
    tombstone-table swap, so every crash window is recoverable:

    - journal + ``tombstones.tmp`` present  -> swap not finished: (re)do it
      (``os.replace`` removes tmp, so tmp present is proof the new table
      isn't live yet; the live dir, if present, is the OLD one)
    - journal present, tmp absent           -> swap done; re-apply the
      journaled manifest lineage (``set_lineage`` is idempotent) and drop
      the journal

    Without this, a crash between ``rmtree(tombstones)`` and the rename
    left ``n_deleted > 0`` with no tombstone table — PackedIndex would
    subtract n_deleted from live N while filtering nothing.
    """
    p = os.path.join(out_dir, DELETE_INFLIGHT)
    if not os.path.exists(p):
        return
    with open(p) as f:
        j = json.load(f)
    t_dir = tombstones_path(out_dir)
    tmp = t_dir + ".tmp"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        shutil.rmtree(t_dir, ignore_errors=True)
        os.replace(tmp, t_dir)
    elif os.path.exists(tmp):
        # tmp never finished writing: the old table (if any) is still live
        # and the manifest never advanced — abort the generation cleanly
        shutil.rmtree(tmp, ignore_errors=True)
        os.remove(p)
        return
    man = Manifest(os.path.join(out_dir, "manifest.json"))
    lin = man.data["lineage"]
    entry = j["entry"]
    logged = [e for e in lin.get("deletes", []) if e["generation"] != entry["generation"]]
    man.set_lineage(
        n_deleted=int(j["n_deleted"]), deletes=logged + [entry]
    )
    os.remove(p)


def delete_docs(
    spark: SparkSession,
    out_dir: str,
    docids: list[int] | None = None,
    ext_docids: list[str] | None = None,
) -> dict:
    """Tombstone the given docs (by internal docid and/or external id).
    Idempotent: re-deleting is a no-op. Returns the committed counters,
    with the call's wall seconds (``sec``) and those of its steps
    (``steps_s``)."""
    from search_engine_spark.index.compact import check_not_inflight

    clock = StepClock()
    check_not_inflight(out_dir)
    recover_delete_inflight(out_dir)
    man = Manifest(os.path.join(out_dir, "manifest.json"))
    lin = man.data["lineage"]
    n_docs = int(lin["n_docs"])
    ids = {int(d) for d in (docids or [])}
    if ext_docids:
        rows = (
            spark.read.parquet(f"{out_dir}/doc_ids")
            .where(F.col("ext_docid").isin(list(ext_docids)))
            .select("docid", "ext_docid")
            .collect()
        )
        found = {r["ext_docid"] for r in rows}
        missing = set(ext_docids) - found
        if missing:
            raise ValueError(f"unknown ext_docids: {sorted(missing)[:5]}...")
        ids |= {int(r["docid"]) for r in rows}
    if not ids:
        raise ValueError("nothing to delete")
    bad = [d for d in ids if d < 1 or d > n_docs]
    if bad:
        raise ValueError(f"docids out of range 1..{n_docs}: {sorted(bad)[:5]}")
    # membership check against the on-disk doc_ids table: docids purged by a
    # past compaction (index/compact.py) must not re-enter the tombstone set
    # — live N is n_docs - n_purged - n_deleted, so a ghost tombstone would
    # double-count. (Tombstoned-but-unpurged ids are still present on disk,
    # keeping re-deletes idempotent.)
    present = {
        int(r["docid"])
        for r in spark.read.parquet(f"{out_dir}/doc_ids")
        .where(F.col("docid").isin([int(d) for d in ids]))
        .select("docid")
        .collect()
    }
    ghosts = sorted(ids - present)
    if ghosts:
        raise ValueError(f"docids not in the index (purged?): {ghosts[:5]}")
    clock.lap("checks")

    t_dir = tombstones_path(out_dir)
    new = spark.createDataFrame([(d,) for d in sorted(ids)], "docid long")
    if os.path.exists(t_dir):
        new = spark.read.parquet(t_dir).unionByName(new)
    obs = Observation("tombstones")
    merged = new.distinct().coalesce(1).observe(obs, F.count(F.lit(1)).alias("n"))
    tmp = t_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.parquet(tmp)
    total = int(obs.get["n"])
    clock.lap("write")

    entry = {
        "generation": len(lin.get("deletes", [])) + 1,
        "n_requested": len(ids),
        "n_deleted_total": total,
        "ts": time.time(),
    }
    # journaled commit (mirrors compact's inflight file): the journal pins
    # the intended final state BEFORE the swap, so a crash anywhere between
    # here and the manifest write rolls FORWARD via recover_delete_inflight
    # — no window where n_deleted and the on-disk tombstone set disagree
    # for a reader that runs recovery (PackedIndex.__init__ does).
    journal = os.path.join(out_dir, DELETE_INFLIGHT)
    j_tmp = journal + ".tmp"
    with open(j_tmp, "w") as f:
        json.dump({"n_deleted": total, "entry": entry}, f)
    os.replace(j_tmp, journal)
    shutil.rmtree(t_dir, ignore_errors=True)
    os.replace(tmp, t_dir)
    man.set_lineage(
        n_deleted=total, deletes=lin.get("deletes", []) + [entry]
    )
    os.remove(journal)
    clock.lap("commit")
    return {**entry, **clock.report()}
