"""Deterministic synthetic source-code corpus (the north-rule input shape).

The engine's production input is an Iceberg table of source-code repositories
with columns ``(repo:string, path:string, commit:string, lang:string,
content:string)``. No external data exists in this sandbox, so tests and
benches synthesise that table deterministically per FIXTURES.md §1:

- ~2,000 identifier-like vocabulary terms with Zipf(s≈1.1) frequencies;
- ~15 heavy keyword terms per lang (``def``/``return``/``public``…) appearing
  in >60% of docs — the stopword-grade skew the index build must defuse with
  salting (SURVEY.md §4.2);
- planted adjacent phrases (``open file handle``, ``lock free queue``,
  ``ring buffer slot``) so #NEAR/#WINDOW have known answers;
- df=1 terms (``rare_alpha``/``rare_beta``) and one term absent from the
  corpus entirely (``absent_term_zz`` — the empty-postings path);
- doc length 20–2000 tokens, Zipf-ish.

Everything derives from ``random.Random(seed)`` — same seed, same corpus,
byte-for-byte. sha256(content) is the per-row invariant the pytest gate
checks against the source table (BASELINE.json input_hint).
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import math
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# FIXTURES.md §1: lang categorical with fixed weights
LANGS = ["python", "java", "scala", "go", "js"]
_LANG_W = [0.35, 0.25, 0.15, 0.15, 0.10]
_EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "js": "js"}

KEYWORDS_BY_LANG = {
    "python": "def return import class if else for while self lambda yield pass try except with".split(),
    "java": "public void static final class int return new if else for while import private this".split(),
    "scala": "def val var object trait case match class import return if else for yield new".split(),
    "go": "func return package import var type struct range if else for defer go chan map".split(),
    "js": "function return const let var class import export if else for while new this async".split(),
}
ALL_KEYWORDS = sorted({k for v in KEYWORDS_BY_LANG.values() for k in v})

PHRASES = [
    ["open", "file", "handle"],
    ["lock", "free", "queue"],
    ["ring", "buffer", "slot"],
]

RARE_TERMS = ["rare_alpha", "rare_beta", "rare_gamma"]
ABSENT_TERM = "absent_term_zz"  # never generated — empty-postings edge

_STEMS = [
    "parse", "token", "index", "merge", "shard", "query", "score", "rank",
    "batch", "codec", "varint", "delta", "block", "posting", "doc", "field",
    "stat", "count", "hash", "salt", "split", "scan", "filter", "join",
    "sort", "heap", "topk", "bm25", "idf", "norm", "read", "write", "flush",
    "sync", "pool", "node", "tree", "list", "map", "set", "key", "value",
    "iter", "spark", "frame", "column", "row", "table", "plan", "stage",
]
_ACTIONS = [
    "init", "next", "prev", "push", "pop", "peek", "load", "store", "emit",
    "drain", "seek", "skip", "grow", "pack", "unpack", "encode", "decode",
    "align", "probe", "build", "close", "reset", "clear", "swap", "take",
    "put", "get", "find", "bind", "free", "alloc", "copy", "move", "fill",
    "test", "mark", "scan2", "run", "step", "tick",
]


def _build_vocab() -> list[str]:
    """~2,000 identifier-like terms, deterministic order."""
    vocab = []
    for s in _STEMS:
        for a in _ACTIONS:
            vocab.append(f"{s}_{a}")
            if len(vocab) >= 2000:
                return vocab
    return vocab


VOCAB = _build_vocab()

# Zipf(s=1.1) cumulative weights over VOCAB ranks
_ZIPF_CUM: list[float] = []
_acc = 0.0
for _r in range(len(VOCAB)):
    _acc += 1.0 / (_r + 1) ** 1.1
    _ZIPF_CUM.append(_acc)
_ZIPF_TOTAL = _acc

CODE_DOC_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def _zipf_term(rng: random.Random) -> str:
    u = rng.random() * _ZIPF_TOTAL
    return VOCAB[bisect.bisect_left(_ZIPF_CUM, u)]


# --- bursty variant (identifier locality) ----------------------------------
# Real code corpora are not i.i.d.: a repository reuses its own identifiers
# heavily (a parser repo says "token" hundreds of times), so per-document tf
# for a repo's focus terms is 10-50x the corpus-wide tf, and — because
# with_docids assigns docids in (repo, path) order — those bursts are
# CONTIGUOUS in docid space. That skew is what gives per-block max_tf its
# variance, i.e. what block-max pruning (engine/pruning.py) exists for; the
# plain i.i.d. Zipf corpus makes every 128-posting block look alike and
# provably nothing can skip. bursty=True assigns each repo a THEME (a small
# slice of the vocabulary) and draws ~25% of tokens from it.
N_THEMES = 100
THEME_SIZE = 4
# Theme terms overlap the mid-Zipf vocabulary on purpose: outside its theme
# a term appears with tf 1-2 (block upper bound ≈ 0.84·idf at best), inside
# it with tf 10-60, deep in BM25 tf-saturation (score ≈ 0.95·idf). The
# top-k therefore sits safely ABOVE almost every generic block's bound —
# the margin block-max pruning monetizes on real corpora, produced here by
# the same mechanism (identifier burstiness over a common vocabulary).
_THEME_VOCAB_BASE = 200


def theme_terms(theme: int) -> list[str]:
    base = _THEME_VOCAB_BASE + (theme % N_THEMES) * THEME_SIZE
    return VOCAB[base : base + THEME_SIZE]


def repo_theme(repo_rank: int) -> int:
    # theme = the ORG (25 repos share an org prefix, and with_docids orders
    # docids lexicographically by repo, so an org's docs are near-contiguous
    # in docid space): a theme's burst postings form long consecutive runs,
    # the shape a real repo-by-repo ingest produces
    return (repo_rank // 25) % N_THEMES


def _doc_len(rng: random.Random) -> int:
    """20–2000 tokens, Zipf-ish (most docs short, a fat tail)."""
    u = rng.random()
    return min(2000, int(20 * math.exp(u * math.log(100))))


def generate_code_rows(
    n_files: int, seed: int = 42, bursty: bool = False
) -> list[tuple]:
    """Deterministic rows (repo, path, commit, lang, content) — row i depends
    only on (seed, i, n_files), so generation distributes (see
    distributed_corpus_df) and the driver/executor outputs are identical."""
    return [_gen_row(i, n_files, seed, bursty) for i in range(n_files)]


def _gen_row(i: int, n_files: int, seed: int, bursty: bool = False) -> tuple:
    # string seeds hash deterministically in random.Random (sha512-based),
    # independent of PYTHONHASHSEED — same row on driver and any executor
    rng = random.Random(f"{seed}:{i}")
    r = rng.randrange(max(1, n_files // 40))
    repo = f"org{r // 25}/repo{r}"
    lang = rng.choices(LANGS, weights=_LANG_W)[0]
    d1, d2 = _zipf_term(rng), _zipf_term(rng)
    path = f"src/{d1}/{d2}/file_{i}.{_EXT[lang]}"
    commit = hashlib.sha1(f"{repo}:{path}:{seed}".encode()).hexdigest()[:40]

    kws = KEYWORDS_BY_LANG[lang]
    theme = theme_terms(repo_theme(r)) if bursty else None
    n_tok = _doc_len(rng)
    toks: list[str] = []
    while len(toks) < n_tok:
        u = rng.random()
        if u < 0.30:  # heavy keyword skew (>60% of docs get several)
            toks.append(rng.choice(kws))
        elif u < 0.33 and len(toks) + 3 <= n_tok + 3:
            toks.extend(rng.choice(PHRASES))  # planted adjacent phrase
        elif u < 0.35:
            # near-phrase with a gap token (exercises #NEAR distances)
            ph = rng.choice(PHRASES)
            toks.extend([ph[0], _zipf_term(rng), ph[1], ph[2]])
        elif bursty and u < 0.70:
            # identifier locality: the repo's own theme terms, drawn so often
            # that per-doc tf is 10-50x the corpus-wide rate (docid-contiguous
            # because with_docids orders by repo)
            toks.append(rng.choice(theme))
        else:
            toks.append(_zipf_term(rng))
    # df=1 terms: planted in exactly one fixed doc each
    for j, rare in enumerate(RARE_TERMS):
        if i == (7 * (j + 1)) % max(1, n_files):
            toks.append(rare)
    # code-ish punctuation the code tokenizer must strip
    parts = []
    for j, t in enumerate(toks):
        if j % 13 == 12:
            parts.append(f"{t}(x):\n")
        elif j % 7 == 6:
            parts.append(f"{t};")
        else:
            parts.append(t)
    return (repo, path, commit, lang, " ".join(parts))


def code_corpus_df(
    spark: SparkSession, n_files: int, seed: int = 42,
    partitions: int | None = None, bursty: bool = False,
) -> DataFrame:
    """The synthetic Iceberg-shaped source table as a DataFrame."""
    rows = generate_code_rows(n_files, seed, bursty)
    df = spark.createDataFrame(rows, CODE_DOC_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def distributed_corpus_df(
    spark: SparkSession, n_files: int, seed: int = 42,
    partitions: int | None = None, bursty: bool = False,
) -> DataFrame:
    """Same rows as code_corpus_df, but generated ON THE EXECUTORS:
    spark.range over file indexes -> mapInPandas calling the per-row
    deterministic generator. This is how a large-scale synthetic corpus is
    materialized without a driver bottleneck (row i depends only on
    (seed, i, n_files), so partitioning doesn't change the data)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [_gen_row(int(i), n_files, seed, bursty) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )

    rng_df = spark.range(n_files)
    if partitions:
        rng_df = rng_df.repartition(partitions)
    return rng_df.mapInPandas(gen, CODE_DOC_SCHEMA)


def with_docids(
    docs: DataFrame, partitions: int | None = None, base: int = 0
) -> DataFrame:
    """Assign the dense internal docid + the external id string.

    ext id = ``repo:path@commit`` (SURVEY.md §1.1); docid = dense row number
    over the natural key — assigned ONCE at ingest, deterministic for a
    given table (docid = global rank of the key, independent of the
    partition count).

    Scalable assignment with NO shuffle past the initial range partition:
    range-partition + sort by the key once (persisted), count per partition,
    then docid = partition offset + local rank via a NARROW JVM expression.
    The original formulation used ``row_number() over (partition by _pid)``
    — a Window whose partitionBy inserted a full hash SHUFFLE of the corpus
    (content included) into EVERY downstream action, and AQE coalesced that
    shuffle's output to ~4 partitions, capping the segment pass at 4 tasks
    regardless of cores.
    """
    keys = ["repo", "path", "commit"]
    sc = docs.sparkSession.sparkContext
    partitions = partitions or max(sc.defaultParallelism * 4, 16)

    part = docs.repartitionByRange(partitions, *keys).sortWithinPartitions(
        *keys
    ).withColumn("_pid", F.spark_partition_id())
    part = part.persist()
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    # each partition's docid offset, looked up by _pid in a literal array:
    # a JVM expression (an offsets table from a Python list would be a
    # Python job that every action over the docs reruns)
    offsets = itertools.accumulate(
        (counts.get(pid, 0) for pid in range(max(counts, default=0))), initial=0
    )
    off = F.element_at(
        F.array(*(F.lit(o) for o in offsets)).cast("array<bigint>"), F.col("_pid") + 1
    )

    # docid = partition offset + 0-based position within the (sorted)
    # partition + 1, where the position comes from monotonically_increasing_id
    # (pid·2^33 + seq; seq is the row's sequence number within its partition,
    # so mid % 2^33 is the local rank) — a pure JVM NARROW expression: no
    # shuffle, no window, and no extra JVM<->Python Arrow round-trip of the
    # corpus (an earlier mapInArrow assigner doubled the IPC volume of every
    # downstream pass)
    # `base` shifts the whole range for incremental appends (index/append.py):
    # an appended batch over a base of N docs gets docids N+1..N+Δ
    local = F.monotonically_increasing_id() % F.lit(1 << 33)
    out = part.select(
        (F.lit(int(base)) + off + local + 1).cast("long").alias("docid"),
        F.concat_ws("", F.col("repo"), F.lit(":"), F.col("path"),
                    F.lit("@"), F.col("commit")).alias("ext_docid"),
        "repo", "path", "commit", "lang", "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )
    # expose the persisted intermediate so bounded-lifetime callers (the
    # streaming ingest runs once per micro-batch) can unpersist it after
    # their action instead of waiting for the context cleaner
    out._persisted_part = part
    return out
