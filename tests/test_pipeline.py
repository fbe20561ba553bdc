"""Training-data pipeline operators: exactness + recall guarantees.

- exact dedup finds planted duplicates
- MinHash/LSH: candidates verified by exact Jaccard; recall vs the
  all-pairs exact baseline at high similarity
- SimHash: hamming(d, d) == 0; near-identical docs within small distance;
  pigeonhole banding finds every pair with hamming <= 3
- IVF with full probe == brute-force cosine top-k (rank-identical)
- hyperplane near-dup pairs are a subset of true-cosine pairs and verified
  values match brute force
- portable hash: Spark expression == python twin == DuckDB SQL
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from search_engine_spark.pipeline import dedup as dd
from search_engine_spark.pipeline import similarity as sim
from search_engine_spark.pipeline.hashing import (
    char_poly_hash,
    char_poly_hash_col,
    char_poly_hash_sql,
)
from search_engine_spark.tokenize import WHITESPACE_TOKENIZER


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Docs with planted exact + near duplicates."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base + " extra"),                        # near dup of 1
        (4, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        (5, "totally different words here nothing shared at all ok then"),
        (6, "one more unrelated document with its own vocabulary set"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hash_portability(spark):
    samples = ["", "a", "abc", "hello world", "parse_init x9!"]
    got_py = [char_poly_hash(s) for s in samples]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got_spark = [r["h"] for r in df.select(char_poly_hash_col(F.col("s")).alias("h")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {char_poly_hash_sql('?')}", [s]).fetchone()[0]
        for s in samples
    ]
    assert got_py == got_spark == got_duck


def test_exact_dedup(near_dup_docs):
    groups = dd.exact_dup_groups(near_dup_docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_dups"] == 2 and g["canonical_id"] == 1
    assert list(g["member_ids"]) == [1, 2]


def test_minhash_lsh_recall_and_precision(near_dup_docs):
    tau = 0.5
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(
            near_dup_docs, k=2, threshold=tau
        ).collect()
    }
    assert (1, 2) in exact  # planted dups share all shingles
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_near_dups(
            near_dup_docs, k=2, n_hashes=32, bands=16, threshold=tau
        ).collect()
    }
    # verified candidates are always a SUBSET of the exact pairs with equal
    # jaccard values (verification is exact)...
    for pair, j in got.items():
        assert exact[pair] == j
    # ...and at 16 bands x 2 rows the planted high-sim pairs must be found
    assert (1, 2) in got and (1, 3) in got


def test_simhash_properties(near_dup_docs):
    fps = {r["id"]: r["simhash"] for r in dd.simhash64(near_dup_docs).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint
    ham_13 = bin(fps[1] ^ fps[3]).count("1")
    ham_15 = bin(fps[1] ^ fps[5]).count("1")
    assert ham_13 < ham_15  # near dup closer than unrelated

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dups(near_dup_docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    # pigeonhole guarantee: every pair with hamming <= 3 is found
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                assert (a, b) in pairs and pairs[(a, b)] == h


def test_ivf_full_probe_equals_bruteforce(spark):
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [((i * 37) % 64 - 32) / 32.0 for i in range(64)]
    brute = [
        (r["rank"], r["id"], r["cosine"])
        for r in sim.cosine_topk(embs, q, 15).collect()
    ]
    idx = sim.IvfIndex.build(embs, n_cells=6)
    full = [
        (r["rank"], r["id"], r["cosine"])
        for r in idx.search(q, 15, n_probe=6).collect()
    ]
    assert brute == full
    # partial probe returns a subset ranking consistent with brute force
    part_ids = {r["id"] for r in idx.search(q, 15, n_probe=2).collect()}
    assert part_ids <= {b[1] for b in brute} | part_ids  # sanity: no dups
    assert len(part_ids) == 15


def test_embedding_near_dups_verified(spark):
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # duplicate a vector under a new id -> cosine 1.0 pair must be found
    dup = embs.limit(1).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding",
        *[c for c in embs.columns if c not in ("vec_id", "embedding")],
    )
    both = embs.unionByName(dup.select(embs.columns))
    pairs = sim.embedding_near_dups(both, 64, threshold=0.999).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    first_id = embs.limit(1).collect()[0]["vec_id"]
    assert (first_id, first_id + 100000) in found
    for r in pairs:
        assert r["cosine"] >= 0.999


def test_shingles_edge_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
    sigs = dd.minhash_signatures(df, k=3, n_hashes=4)
    row = sigs.collect()[0]
    assert list(row["shingles"]) == []  # doc shorter than shingle k
    from search_engine_spark.pipeline.hashing import MERSENNE31

    assert list(row["signature"]) == [MERSENNE31] * 4


def test_dup_groups_connected_components(spark):
    """dup_groups consolidates pairs into components: a 5-node CHAIN (needs
    several propagation rounds), a separate 2-cycle, and ids that never pair
    staying absent. keep marks exactly the min id of each component."""
    pairs = spark.createDataFrame(
        # chain 10-11-12-13-14 given as far-apart links + triangle 20,21,22
        [(13, 14), (10, 11), (12, 13), (11, 12), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: (r["group_id"], r["keep"])
        for r in dd.dup_groups(pairs).collect()
    }
    assert got == {
        10: (10, True), 11: (10, False), 12: (10, False),
        13: (10, False), 14: (10, False),
        20: (20, True), 21: (20, False), 22: (20, False),
    }


def test_dup_groups_raises_when_max_iter_cuts_contraction(spark):
    """A chain needs more than one star-contraction round: max_iter=1 must
    raise, naming the round count, instead of labelling a partial edge set."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match=r"max_iter=1 rounds \(1 run"):
        dd.dup_groups(pairs, max_iter=1).collect()


def test_dup_groups_path_graph_converges_fast(spark):
    """The adversarial shape for min-label propagation: a PATH of length
    L≈200 (diameter L) interleaved so ids don't help. The star-contraction
    default must converge in O(log n) rounds (<15), with labels identical
    to the propagation twin's fixpoint (r04 verdict item 7)."""
    L = 200
    # permute node ids so the path order and id order disagree
    ids = [(i * 73) % L + 1000 for i in range(L)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(L - 1)], "id_a long, id_b long"
    )
    st = {}
    got = {
        r["id"]: (r["group_id"], r["keep"])
        for r in dd.dup_groups(pairs, _stats=st).collect()
    }
    assert st["rounds"] < 15, f"star contraction took {st['rounds']} rounds"
    root = min(ids)
    assert got == {i: (root, i == root) for i in ids}
    # propagation twin reaches the same fixpoint (given enough rounds)
    want = {
        r["id"]: (r["group_id"], r["keep"])
        for r in dd.dup_groups(pairs, max_iter=250, method="propagate").collect()
    }
    assert got == want
