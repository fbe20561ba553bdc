"""Incremental index append: add new documents to a persisted index
without a rebuild and without rewriting existing data.

The reference (like the Lucene index it reads) is a frozen snapshot; the
north-rule deployment is a living corpus: new files arrive and the index
must absorb them without re-merging 100 TB. The design exploits one
invariant the builder already guarantees: **docids are dense and
append-only** (with_docids assigns 1..N at ingest; an appended batch takes
N+1..N+Δ). Every appended posting therefore has a docid strictly greater
than every existing posting's, so a term's merged posting list is exactly
``existing blocks ++ delta blocks`` — the base packed files never change.

Append = checks + a normal delta build + an atomic graft:

0. **checks** — one aggregate over the Δ docs (dense docid range, delta
   fingerprint) and, side by side with it, the ext-id uniqueness check, a
   semi-join that scans the base ``doc_ids``.
1. **delta** — ``build_persistent_index`` over the Δ docs into a staging
   dir (same BuildConfig, validated against the base manifest's config
   echo exactly like resume does). Every Spark job is sized by Δ: the
   docs coalesce to one partition per ``DELTA_DOCS_PER_TASK`` docs (at
   most one per core) and route into as many merge buckets, so a small
   delta is one segment task, one merge task and one packed file. The merge writes ``block_id + hwm`` (the base's
   block-id high-water mark, read from the packed side manifest or
   bounded from term_stats with pyarrow — no Spark job), so
   (term, field, salt, block_id) stays unique across generations.
2. **graft_docs** — staging doc_ids / doc_stats part-files MOVE into the
   base dirs under deterministic ``append{g}-`` names (idempotent: a redo
   skips files already in place). Harmless if visible early: dimension
   rows for docs that match nothing yet.
3. **graft_packed** — the staged packed files MOVE into ``packed/`` as
   they are, then COMMIT by atomically rewriting ``packed/_manifest.json``
   with the file list and the new high-water mark (Iceberg-style: unlisted
   files are invisible, so a crash leaves readers on the old file list and
   a resumed move keeps the files already moved). No Spark job. Delta
   salt ids are computed over the delta's own docid range — a different
   basis than the base generation's, which is correct because salt is
   only a build-time grouping refinement: every query scans all salts of a
   term, and the block-max pruner keys blocks by the full
   (term, field, salt, block_id) identity.
4. **term_stats** — df/ctf are additive: ``base ∪ delta`` re-aggregated,
   written beside the live table, swapped in by rename.
5. **commit** — corpus_stats.json sums updated; manifest lineage advances
   (n_docs, XOR-combinable input fingerprint, an ``appends`` log entry
   with per-append counters and per-step seconds, ``steps_s``: the lineage
   story the north rule asks for); staging removed.

Cost model: the delta build and both grafts are O(Δ). The term_stats
rewrite is O(vocabulary) — it re-aggregates the whole base table. The
ext-id uniqueness check scans the base ``doc_ids`` (O(N) bytes read,
skippable with ``check_ext_unique=False``).

Every step records completion in the base manifest
(``append{g}:<step>``); re-invoking after a crash resumes the same
generation at the first unfinished step (the staging build resumes through
its own manifest). The linearization point is the term_stats swap: before
it, queries see the base corpus exactly (delta blocks are invisible until
the packed manifest commit, and between packed-commit and stats-swap new
postings score with the base df/ctf — the same transient a Lucene
near-real-time reader exhibits mid-refresh). Full-build-vs-append query
equivalence (scores bitwise, df/ctf/corpus stats identical) is asserted in
tests/test_append.py.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.index.persist import (
    BuildConfig,
    Manifest,
    StepClock,
    _config_echo,
    _side_manifest,
    _write_side_manifest,
    build_persistent_index,
)

# documents per task of an append's delta build (segment pass and merge):
# a task's fixed cost (scheduling, a Python worker, file opens) is ~0.1 s,
# so a delta smaller than this runs as one task of each kind
DELTA_DOCS_PER_TASK = 256


def _stage(man: Manifest, g: int, step: str) -> str:
    return f"append{g}:{step}"


def _move_parts(
    src_dir: str, dst_dir: str, prefix: str, names: list[str] | None = None
) -> list[str]:
    """Move every parquet part-file from src to dst under deterministic
    names derived from the SOURCE filename (``{prefix}-{src_name}``), so a
    resumed move is truly idempotent: after a crash partway through, the
    remaining sources map to the same targets regardless of which files
    already moved. (Enumeration-index naming would renumber the survivors
    from 0, collide with already-moved targets, and drop their rows.)
    Already-moved targets discovered in dst (source gone) are re-listed so
    the returned name set is complete on resume. ``names`` restricts the
    move to those source files (a manifest-listed table, whose unlisted
    files are orphans of a crashed write); a listed name is then found in
    src or, already moved, in dst."""
    listed = names is not None
    if not listed:
        names = sorted(
            n for n in os.listdir(src_dir)
            if n.endswith(".parquet") and not n.startswith("_")
        )
    moved = set()
    for n in names:
        dst = f"{prefix}-{n}"
        target = os.path.join(dst_dir, dst)
        src = os.path.join(src_dir, n)
        if not os.path.exists(target):
            os.replace(src, target)
        elif os.path.exists(src):
            # same source name already moved by a crashed prior attempt —
            # the rename is the identity map, so the content is in place
            os.remove(src)
        moved.add(dst)
    if not listed:
        # resume completeness: targets whose source already moved in a
        # prior crashed attempt are part of this generation's file set too
        for n in os.listdir(dst_dir):
            if n.startswith(f"{prefix}-") and n.endswith(".parquet"):
                moved.add(n)
    return sorted(moved)


def _next_generation(man: Manifest) -> int:
    """Resume an unfinished append generation if one exists, else start the
    next one after the committed log."""
    done = len(man.data["lineage"].get("appends", []))
    g = done + 1
    # an earlier crash may have left generation g partially staged — the
    # stage keys tell us; committed generations moved into the appends log
    return g


def _column_max(paths, column: str) -> int | None:
    """Max of one column over parquet files (or a table dir): one pyarrow
    column read on the driver, no Spark job. None when there are no rows."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    if not paths:
        return None
    tbl = ds.dataset(paths, format="parquet").to_table(columns=[column])
    return pc.max(tbl[column]).as_py()


def append_to_index(
    spark: SparkSession,
    docs: DataFrame,
    cfg: BuildConfig,
    check_ext_unique: bool = True,
    fail_after_step: str | None = None,
) -> dict:
    """Append ``docs`` (docid, ext_docid + cfg.fields source columns, with
    docids dense from n_base+1) to the index at ``cfg.out_dir``. Returns the
    committed append's counters, with the wall seconds of each step in
    ``steps_s``. ``fail_after_step`` injects a crash after that step
    commits (resume test only)."""
    clock = StepClock()
    out = cfg.out_dir
    man = Manifest(os.path.join(out, "manifest.json"))
    lin = man.data["lineage"]
    if not (man.stage_done("segments") and man.stage_done("packed")):
        raise ValueError(f"{out} is not a completed index — build first")
    if _side_manifest(f"{out}/packed") is None:
        raise ValueError(
            "append requires the manifest-listed packed layout "
            "(legacy bucket=<b>/ indexes predate the atomic file-list commit)"
        )
    echo = _config_echo(cfg)
    mism = [k for k, v in echo.items() if lin.get(k) != v]
    if mism:
        raise ValueError(
            "append config mismatch vs base manifest: "
            + ", ".join(f"{k}: base={lin.get(k)!r} now={echo[k]!r}" for k in mism)
        )

    n_base = int(lin["n_docs"])
    g = _next_generation(man)
    staging = os.path.join(out, f"append-{g}-staging")

    # ---- docid contract + delta lineage (one tiny agg), side by side with
    # the ext-id uniqueness join (it needs only n_base) -------------------
    def ext_dups() -> int:
        # only the BASE docid range counts: a resumed append re-checks after
        # its own doc_ids rows may already have grafted in (crash between
        # graft_docs and commit)
        base_ids = spark.read.parquet(f"{out}/doc_ids").where(
            F.col("docid") <= n_base
        )
        return (
            base_ids.join(docs.select("ext_docid"), "ext_docid", "left_semi")
            .limit(1)
            .count()
        )

    with ThreadPoolExecutor(max_workers=1) as pool:
        dups = pool.submit(ext_dups) if check_ext_unique else None
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
            F.bit_xor(F.xxhash64("ext_docid")).alias("fp"),
        ).first()
        dup = dups is not None and dups.result()
    n_delta = int(row["n"])
    if n_delta == 0:
        raise ValueError("empty append batch")
    if int(row["lo"]) != n_base + 1 or int(row["hi"]) != n_base + n_delta:
        raise ValueError(
            f"append docids must be dense {n_base + 1}..{n_base + n_delta}; "
            f"got [{row['lo']}, {row['hi']}] over {n_delta} docs — assign "
            f"them with with_docids(docs, base={n_base})"
        )
    fp_delta = int(row["fp"])
    if dup:
        raise ValueError(
            "append batch re-uses ext_docids already in the index "
            "(pass check_ext_unique=False to allow duplicates knowingly)"
        )
    clock.lap("checks")

    # ---- step 1: delta build into staging (resumable on its own) ---------
    # Sized by the delta: one input partition and one merge bucket per
    # DELTA_DOCS_PER_TASK docs, at most one per core (a small delta is one
    # segment task, one merge task, one packed file), and block ids start
    # at the base's high-water mark so the staged packed files graft in as
    # they are. The base is untouched until step 1 is marked, so a resumed
    # build sees the same mark.
    pk_dir = f"{out}/packed"
    st_dir = f"{staging}/packed"
    if not man.stage_done(_stage(man, g, "delta")):
        # the high-water mark: recorded by a prior append (or carried by
        # compaction), else bounded from the base term_stats — a group
        # emits <= ceil(df / block_size) blocks, so max(df) bounds every
        # generation-0 block id
        hwm = _side_manifest(pk_dir).get("block_id_hwm")
        if hwm is None:
            max_df = _column_max(f"{out}/term_stats", "df") or 0
            hwm = -(-max_df // cfg.block_size) + 1
        n_tasks = max(1, min(
            spark.sparkContext.defaultParallelism,
            -(-n_delta // DELTA_DOCS_PER_TASK),
        ))
        build_persistent_index(
            spark, docs.coalesce(n_tasks),
            replace(cfg, out_dir=staging, merge_buckets=n_tasks),
            resume=True, block_id_base=hwm,
        )
        # the graft's new high-water mark rides the staged side manifest
        st_man = _side_manifest(st_dir)
        top = _column_max(
            [os.path.join(st_dir, n) for n in st_man["files"]], "block_id"
        )
        _write_side_manifest(
            st_dir, {**st_man, "block_id_hwm": hwm if top is None else top + 1}
        )
        man.mark_stage(_stage(man, g, "delta"))
    if fail_after_step == "delta":
        raise RuntimeError("injected failure after step delta")
    clock.lap("delta")

    # ---- step 2: graft doc_ids + doc_stats -------------------------------
    if not man.stage_done(_stage(man, g, "graft_docs")):
        for d in ("doc_ids", "doc_stats"):
            _move_parts(f"{staging}/{d}", f"{out}/{d}", f"append{g}-{d}")
            if fail_after_step == f"moved_{d}":
                raise RuntimeError(f"injected failure after step moved_{d}")
        man.mark_stage(_stage(man, g, "graft_docs"))
    if fail_after_step == "graft_docs":
        raise RuntimeError("injected failure after step graft_docs")
    clock.lap("graft_docs")

    # ---- step 3: graft packed blocks (atomic manifest commit) ------------
    # A file move: the staged blocks already carry their final ids. Moved
    # but uncommitted files are invisible (not in the file list) and a
    # resumed move keeps them, so every crash window redoes the same commit.
    if not man.stage_done(_stage(man, g, "graft_packed")):
        pk_man, st_man = _side_manifest(pk_dir), _side_manifest(st_dir)
        delta_rows = int(st_man["total_rows"])
        if not any(n.startswith(f"append{g}-") for n in pk_man["files"]):
            moved = _move_parts(
                st_dir, pk_dir, f"append{g}-packed", names=st_man["files"]
            )
            if fail_after_step == "moved_packed":
                raise RuntimeError("injected failure after step moved_packed")
            _write_side_manifest(
                pk_dir,
                {
                    **pk_man,
                    "files": sorted(pk_man["files"] + moved),
                    "total_rows": int(pk_man["total_rows"]) + delta_rows,
                    "block_id_hwm": int(st_man["block_id_hwm"]),
                },
            )
        # else: a crash landed between the side-manifest commit and the
        # stage mark — the files ARE committed, only the mark is missing
        man.mark_stage(
            _stage(man, g, "graft_packed"), blocks_appended=delta_rows
        )
    if fail_after_step == "graft_packed":
        raise RuntimeError("injected failure after step graft_packed")
    clock.lap("graft_packed")

    # ---- step 4: merged term_stats, swapped in by rename ------------------
    # Crash-safe state machine: the OLD table is renamed aside (never
    # rmtree'd) before the merged table swaps in, so "swap already done" is
    # detectable on resume — old present + tmp absent can ONLY mean the
    # merge ran and swapped but the stage mark didn't land. Without the
    # rename, that crash window is indistinguishable from "not yet merged"
    # and a resume would re-merge against the already-merged table, adding
    # the delta's df/ctf a second time.
    ts_dir = f"{out}/term_stats"
    tmp_dir = f"{out}/term_stats-append{g}.tmp"
    old_dir = f"{out}/term_stats-append{g}.old"
    if not man.stage_done(_stage(man, g, "graft_term_stats")):
        if os.path.exists(old_dir) and not os.path.exists(tmp_dir):
            pass  # swap completed before a crash: ts_dir IS the merged table
        else:
            if not os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
                # absent or partially-written tmp (no _SUCCESS): (re)merge.
                # df/ctf are additive across generations; bucket is a pure
                # function of the term, F.max keeps it through re-aggregation
                shutil.rmtree(tmp_dir, ignore_errors=True)
                merged = (
                    spark.read.parquet(ts_dir)
                    .unionByName(spark.read.parquet(f"{staging}/term_stats"))
                    .groupBy("term", "field")
                    .agg(
                        F.sum("df").cast("long").alias("df"),
                        F.sum("ctf").cast("long").alias("ctf"),
                        F.max("bucket").alias("bucket"),
                    )
                )
                merged.write.parquet(tmp_dir)
            if fail_after_step == "ts_merged":
                raise RuntimeError("injected failure after step ts_merged")
            if os.path.exists(ts_dir):
                shutil.rmtree(old_dir, ignore_errors=True)
                os.replace(ts_dir, old_dir)
            if fail_after_step == "ts_renamed":
                raise RuntimeError("injected failure after step ts_renamed")
            os.replace(tmp_dir, ts_dir)
            if fail_after_step == "ts_swapped":
                raise RuntimeError("injected failure after step ts_swapped")
        man.mark_stage(_stage(man, g, "graft_term_stats"))
    # only after the stage mark is durable is the old table disposable
    shutil.rmtree(old_dir, ignore_errors=True)
    if fail_after_step == "graft_term_stats":
        raise RuntimeError("injected failure after step graft_term_stats")
    clock.lap("term_stats")

    # ---- step 5: corpus stats + lineage commit, staging cleanup ----------
    with open(f"{staging}/corpus_stats.json") as f:
        delta_stats = json.load(f)
    with open(f"{out}/corpus_stats.json") as f:
        base_stats = json.load(f)
    by_field = dict(base_stats["by_field"])
    for fld, dsf in delta_stats["by_field"].items():
        b = by_field.get(fld, {"n_docs": 0, "sum_doclen": 0})
        n_f = b["n_docs"] + dsf["n_docs"]
        len_f = b["sum_doclen"] + dsf["sum_doclen"]
        by_field[fld] = {
            "n_docs": n_f,
            "sum_doclen": len_f,
            "avgdl": len_f / n_f if n_f else 0.0,
        }
    new_stats = {"n_docs": n_base + n_delta, "by_field": by_field}
    tmp = f"{out}/corpus_stats.json.tmp"
    with open(tmp, "w") as f:
        json.dump(new_stats, f, indent=1)
    os.replace(tmp, f"{out}/corpus_stats.json")

    # XOR-combinable fingerprint: bit_xor(xxhash64(ext)) over the union is
    # the XOR of the parts. Kept in the builder's signed-int64 hex
    # convention (f"{spark_long:x}") so the combined value equals what a
    # one-shot build over the union would have recorded.
    def _signed_hex(v: int) -> str:
        v &= 2**64 - 1
        return f"{v - 2**64 if v >= 2**63 else v:x}"

    fp_base = lin.get("input_fingerprint")
    fp_new = (
        _signed_hex(int(fp_base, 16) ^ fp_delta)
        if fp_base not in (None, "empty")
        else _signed_hex(fp_delta)
    )
    clock.lap("commit")
    entry = {
        "generation": g,
        "n_docs": n_delta,
        "blocks": man.data["stages"][_stage(man, g, "graft_packed")].get(
            "blocks_appended"
        ),
        "fingerprint": _signed_hex(fp_delta),
        **clock.report(),
        "ts": time.time(),
    }
    man.set_lineage(
        n_docs=n_base + n_delta,
        input_fingerprint=fp_new,
        appends=lin.get("appends", []) + [entry],
    )
    man.mark_stage(_stage(man, g, "commit"), docs_appended=n_delta)
    shutil.rmtree(staging, ignore_errors=True)
    return entry
