#!/usr/bin/env python
"""spark-submit entry: LeToR feature-file generation (SVMrank format).

    spark-submit --py-files search_engine_spark.zip jobs/letor_features.py \
        --index /data/index_v1 --queries queries.txt \
        --initial-ranking run.trec --out features.txt \
        [--pagerank-file pagerank.tsv] [--feature-disable 6,9] \
        [--qrels qrels.txt] [--fields body,title,url,inlink]

Mirrors the reference's feature-vector generation step — training
(hw5/QryEval/QryEval.java:256-311) and test (:407-456): per query, take the
candidate docs from an initial TREC ranking (top --k, :424's min(100, n)
cut), compute the 18 features, min-max normalize per query, and write
SVMrank-format lines (``<label> qid:<q> 1:<v> ... 18:<v> # <extid>``).

``--pagerank-file`` parses the reference's ``letor:pageRankFile`` format —
one ``externalId<TAB>score`` line (:216-224) — via
``engine.letor.read_pagerank_file`` (distributed read + ext→internal join).
``--qrels`` supplies ``qid 0 extid rel`` relevance lines
(letor:trainingQrelsFile, :268-279) for training files; without it every
label is 0 (a test feature file).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from search_engine_spark.engine.letor import (  # noqa: E402
    LetorConfig,
    letor_features,
    normalize_features,
    read_pagerank_file,
    svmrank_lines,
)
from search_engine_spark.engine.sources import read_trec_run_file  # noqa: E402
from search_engine_spark.index.persist import PackedIndex  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.tokenize import tokenizer_by_name  # noqa: E402


def read_qrels(path: str, doc_ids) -> dict[str, dict[int, int]]:
    """``qid 0 extid rel`` lines -> qid -> docid -> rel (QryEval.java
    :268-279 reads the training qrels the same way, keyed by external id)."""
    rows: list[tuple[str, str, int]] = []
    with open(path) as f:
        for line in f:
            parts = line.split()
            if not parts:
                continue
            rows.append((parts[0], parts[2], int(parts[3])))
    ext = {e for _, e, _ in rows}
    mapping = {
        r["ext_docid"]: r["docid"]
        for r in doc_ids.where(F.col("ext_docid").isin(list(ext))).collect()
    }
    out: dict[str, dict[int, int]] = {}
    for qid, e, rel in rows:
        if e in mapping:
            out.setdefault(qid, {})[mapping[e]] = rel
    return out


def read_queries(path: str) -> list[tuple[str, str]]:
    """``qid:querytext`` lines -> [(qid, text)], split on the first ':'; a
    non-blank line without one is an error that names it."""
    out: list[tuple[str, str]] = []
    with open(path) as f:
        for n, line in enumerate(f, start=1):
            line = line.strip()
            if not line:
                continue
            if ":" not in line:
                raise ValueError(
                    f"{path}:{n}: query line {line!r} has no ':' "
                    "(expected 'qid:querytext')"
                )
            qid, text = line.split(":", 1)
            out.append((qid, text))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--queries", required=True,
                    help="one 'qid:querytext' per line (reference format)")
    ap.add_argument("--initial-ranking", required=True,
                    help="TREC run file supplying each query's candidates")
    ap.add_argument("--out", required=True)
    ap.add_argument("--k", type=int, default=100,
                    help="candidate cut per query (QryEval.java:424)")
    ap.add_argument("--pagerank-file", default=None,
                    help="letor:pageRankFile (externalId<TAB>score lines)")
    ap.add_argument("--qrels", default=None,
                    help="letor:trainingQrelsFile (qid 0 extid rel lines)")
    ap.add_argument("--feature-disable", default="",
                    help="letor:featureDisable: comma-separated 1-based "
                         "feature numbers")
    ap.add_argument("--fields", default="body",
                    help="comma-separated index fields for the 4 field "
                         "slots (body/title/url/inlink analogs); missing "
                         "slots stay NaN like an absent TermVector")
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    spark = get_spark("letor_features", cores=args.cores)
    pidx = PackedIndex(spark, args.index)
    qtok = tokenizer_by_name(pidx.tokenizer_name or "code")

    disable = frozenset(
        int(x) for x in args.feature_disable.split(",") if x.strip()
    )
    flds = [f.strip() or None for f in args.fields.split(",")][:4]
    flds += [None] * (4 - len(flds))
    cfg = LetorConfig(fields4=tuple(flds), disable=disable)

    pr_df = (
        read_pagerank_file(spark, args.pagerank_file, pidx.doc_ids)
        if args.pagerank_file
        else None
    )
    labels = read_qrels(args.qrels, pidx.doc_ids) if args.qrels else {}
    run = read_trec_run_file(args.initial_ranking, pidx.doc_ids)

    queries = read_queries(args.queries)

    lines: list[str] = []
    for qid, text in queries:
        cand_rows = run.get(qid, [])[: args.k]
        if not cand_rows:
            continue
        docids = [d for d, _, _ in cand_rows]
        ext_of = {d: e for d, e, _ in cand_rows}
        raw = letor_features(
            spark, pidx, qtok.tokenize(text), docids, cfg, pagerank=pr_df
        )
        norm = {r["docid"]: r for r in normalize_features(raw, disable).collect()}
        # file order follows the initial ranking, like the reference's
        # per-candidate loop over the score list (QryEval.java:427-456)
        rows = [
            {**norm[d].asDict(), "ext_docid": ext_of[d]}
            for d in docids
            if d in norm
        ]
        lines.extend(svmrank_lines(rows, qid, labels.get(qid)))

    with open(args.out, "w") as f:
        f.write("\n".join(lines) + ("\n" if lines else ""))
    print(f"wrote {len(lines)} feature lines for {len(queries)} queries -> {args.out}")


if __name__ == "__main__":
    main()
