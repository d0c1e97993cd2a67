"""Adversarial hot-block salting recall (VERDICT r2 'what's wrong' #1).

A 3000-member template block — every doc shares ONE block key, the worst
case for salting (no multi-key redundancy to fall back on). Planted
near-duplicate pairs must still be generated by candidate_pairs: the
two-pass sorted-neighborhood range salting orders hot-block members by
fixed-offset content windows (forward and reversed window order), so a
pair differing in one region stays adjacent in the order that reads that
region last. The former hash salting lost each cross-salt pair with
probability (1 - 1/n_salts) ~ 0.96 here, correlated across keys.

Doc ids are SHUFFLED so adjacency can only come from content ordering,
never from id order.
"""

import hashlib
import random

from pyspark.sql import functions as F

from gpu_entity_resolver_spark.config import BlockingConfig
from gpu_entity_resolver_spark.operators.blocking import (
    blocking_plan,
    candidate_pairs,
    salt_blocks,
    sort_token_table,
)

TEMPLATE = "corporate homepage boilerplate navigation header " * 2  # ~98 chars
VOCAB = [
    "alpha", "bravo", "delta", "echo", "fox", "golf", "hotel", "india",
    "juliet", "kilo", "lima", "mike", "nov", "oscar", "papa", "quebec",
]


def _corpus():
    rng = random.Random(42)
    ids = list(range(3000))
    rng.shuffle(ids)
    rows = []
    true_pairs = []
    for i in range(1500):
        words = [rng.choice(VOCAB) for _ in range(60)]
        base = TEMPLATE + " " + " ".join(words)
        a, b = ids[2 * i], ids[2 * i + 1]
        rows.append((a, base))
        # near-dup partner: one word swapped anywhere (may hit any of the
        # sort windows, including the tail)
        w2 = list(words)
        w2[rng.randrange(0, 60)] = rng.choice(VOCAB)
        rows.append((b, TEMPLATE + " " + " ".join(w2)))
        true_pairs.append((min(a, b), max(a, b)))
    return rows, true_pairs


def _keys(docs):
    """(keys, tokens): every doc in ONE block key, plus its sort tokens."""
    keys = docs.select("doc_id", F.lit("hot").alias("block_key"))
    return keys, sort_token_table(docs, "doc_id", "text")


def test_hot_block_recall_and_cost(spark):
    rows, true_pairs = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = BlockingConfig(max_block_size=128)
    pairs = candidate_pairs(*_keys(docs), cfg)
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    n_found = sum(1 for p in true_pairs if p in got)
    recall = n_found / len(true_pairs)
    # measured on this fixture; hash salting scored ~0.04 here
    assert recall >= 0.98, f"hot-block pair recall {recall:.3f}"
    # cost stays LINEAR in block size: 2 orderings x (own + neighbor range)
    n_pairs = len(got)
    assert n_pairs <= 3000 * cfg.max_block_size * 8


def test_hot_key_ceiling_drops_degenerate_key(spark):
    """VERDICT r3 #1: a degenerate block key (every doc shares it — the
    100x analog is an empty-text LSH band or sitewide boilerplate) must be
    DROPPED by the in-path df ceiling, not window-sorted in one task, while
    keys at or under the ceiling still salt/pass through."""
    n = 5000
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some distinct words") for i in range(n)],
        "doc_id long, text string",
    )
    hot_keys, tokens = _keys(docs)
    degenerate = hot_keys.withColumn("block_key", F.lit("mega"))
    # a legitimate hot-but-useful key under the ceiling, and cold keys
    ok_hot = degenerate.where(F.col("doc_id") < 600).withColumn(
        "block_key", F.lit("hot")
    )
    cold = degenerate.withColumn(
        "block_key", F.concat(F.lit("c"), (F.col("doc_id") % 2500).cast("string"))
    )
    keys = degenerate.unionByName(ok_hot).unionByName(cold)
    cfg = BlockingConfig(max_block_size=128, hot_key_ceiling=1024)
    salted = salt_blocks(keys, tokens, cfg)
    out_keys = [r["block_key"] for r in salted.select("block_key").distinct().collect()]
    assert not any(k == "mega" or k.startswith("mega#") for k in out_keys), (
        "degenerate key above the ceiling must be dropped"
    )
    assert any(k.startswith("hot#") for k in out_keys), (
        "hot key under the ceiling must still be salted"
    )
    assert any(k.startswith("c") for k in out_keys)
    # per-task bound: no salted group larger than ~2x cap (own + neighbor)
    sizes = salted.groupBy("block_key").count().collect()
    assert max(r["count"] for r in sizes) <= 2 * cfg.max_block_size
    # ceiling=None restores the old behavior (mega gets salted, not dropped)
    unlimited = salt_blocks(
        keys, tokens, BlockingConfig(max_block_size=128, hot_key_ceiling=None)
    )
    assert unlimited.where(F.col("block_key").startswith("mega#")).count() > 0


def _name_corpus():
    """1200 short entity names whose first two words come from five
    spellings of three soundex codes: hot phonetic blocks (~400-800
    members) that the text keys of the misspelled variants do not share."""
    rng = random.Random(7)
    names = ["johnson smith", "jonsen smyth", "miller brown", "muller braun", "garcia lopez"]
    words = [
        "acme", "corp", "llc", "inc", "holdings", "group", "services",
        "trading", "north", "south", "east", "west", "global", "united",
        "first", "national", "partners", "capital",
    ]
    rows = []
    for i in range(1200):
        tail = [rng.choice(words) for _ in range(rng.randint(2, 12))]
        rows.append((i * 7919 % 100003, rng.choice(names) + " " + " ".join(tail)))
    return rows


# Candidate pairs of the former wide key rows (every key row carrying its
# own sort tokens) at max_block_size=64: pair count and sha256 of the
# sorted "src,dst" lines, computed with the wide form before it was
# removed. On _corpus() the phonetic family adds no pair; on
# _name_corpus() it adds ~47k of them (134,950 pairs without it).
_WIDE_PAIRS = [
    ("template", False, 577553, "ab5dbd1953ba88a081d7ea4be645632fc0129d0a08f94446c89ca2f0db3e9945"),
    ("template", True, 577553, "ab5dbd1953ba88a081d7ea4be645632fc0129d0a08f94446c89ca2f0db3e9945"),
    ("names", True, 182121, "0aeece09e13a31050385914cab0e455d7d703a88d7eeda7c3bdcd944194d7ec5"),
]


def test_narrow_equals_wide(spark):
    """Narrow keys + per-doc token table must produce EXACTLY the candidate
    pairs of the wide key rows — the hot-block windows read the same token
    values either way, just attached late. Covers the phonetic family the
    entity path adds."""
    fixtures = {"template": _corpus()[0], "names": _name_corpus()}
    for name, phonetic, n_pairs, digest in _WIDE_PAIRS:
        docs = spark.createDataFrame(
            fixtures[name], "doc_id long, norm_text string"
        )
        cfg = BlockingConfig(max_block_size=64, use_phonetic_keys=phonetic)
        keys, tokens = blocking_plan(docs, "doc_id", "norm_text", cfg=cfg)
        got = sorted(
            (r["src"], r["dst"])
            for r in candidate_pairs(keys, tokens, cfg).collect()
        )
        blob = "\n".join(f"{a},{b}" for a, b in got).encode()
        assert (len(got), hashlib.sha256(blob).hexdigest()) == (
            n_pairs, digest
        ), (name, phonetic)


def test_host_keys_pair_same_host_docs(spark):
    """Host keys (url_col) pair two docs of one host whose texts share no
    other key; without url_col the pair is not generated."""
    docs = spark.createDataFrame(
        [
            (1, "https://www.acme.example/about", "alpha bravo charlie delta echo foxtrot"),
            (2, "http://acme.example:8080/contact?x=1", "zulu yankee xray whiskey victor uniform"),
            (3, "https://other.example/", "golf hotel india juliet kilo lima mike"),
            (4, "https://third.example/page", "november oscar papa quebec romeo sierra"),
        ],
        "doc_id long, url string, norm_text string",
    )
    cfg = BlockingConfig()

    def pairs(url_col):
        keys, tokens = blocking_plan(docs, "doc_id", "norm_text", url_col, cfg)
        return {(r["src"], r["dst"]) for r in candidate_pairs(keys, tokens, cfg).collect()}

    assert pairs(None) == set()
    assert pairs("url") == {(1, 2)}


def test_cold_blocks_not_salted(spark):
    docs = spark.createDataFrame(
        [(i, f"short doc {i}") for i in range(10)], "doc_id long, text string"
    )
    keys, tokens = _keys(docs)
    keys = keys.withColumn("block_key", (F.col("doc_id") % 3).cast("string"))
    salted = salt_blocks(keys, tokens, BlockingConfig(max_block_size=128))
    # block keys unchanged (no '#' suffix) for blocks under the cap
    assert all("#" not in r["block_key"] for r in salted.collect())
