"""Property test for x_dedup_components: the fixed-iteration min-label
propagation must agree with ground-truth union-find connected
components computed in plain Python over the same pair list.

Both the Spark loop (fix-point with a changed-label probe) and the
oracle (recursive-CTE transitive closure) converge at any diameter;
this test guards that claim against an independent third
implementation.
"""
from __future__ import annotations

from cosmoz_data_pipeline_spark.plans.catalog_ext import (
    q_dedup_components,
    q_dedup_simhash_pairs,
)


def _union_find(pairs):
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the canonical min id
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _py_simhash(tokens: list[str]) -> int:
    """Pure-Python mirror of functions.text.simhash64_bands (explode →
    md5 prefix bits → ±1 votes per bit → sign)."""
    import hashlib

    votes = [0] * 64
    for t in tokens:
        d = hashlib.md5(t.encode()).hexdigest()
        h_hi, h_lo = int(d[:8], 16), int(d[8:16], 16)
        for j in range(64):
            h = h_lo if j < 32 else h_hi
            votes[j] += 1 if (h >> (j % 32)) & 1 else -1
    return sum(1 << j for j in range(64) if votes[j] > 0)


def _ham(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def _chain_corpus(length: int = 8):
    """Deterministic greedy search for a SimHash CHAIN: consecutive docs
    at Hamming in [1,3], every non-adjacent pair at Hamming > 3 — so the
    near-dup pair graph is exactly a path of `length` nodes with
    diameter length-1. doc_ids are ≡ 1 (mod 55) so the _docs_aug
    augmentation (doc_id % 11 / % 5) injects no extra copies."""
    base = [f"base{i}" for i in range(60)]
    docs, sigs, fresh = [list(base)], [_py_simhash(base)], 0
    for _k in range(1, length):
        prev = docs[-1]
        for attempt in range(5000):
            cand = list(prev)
            for r in range(2):
                cand[(attempt * 3 + r * 17) % len(cand)] = f"fresh{fresh + attempt * 2 + r}"
            s = _py_simhash(cand)
            if 1 <= _ham(s, sigs[-1]) <= 3 and all(_ham(s, o) > 3 for o in sigs[:-1]):
                docs.append(cand)
                sigs.append(s)
                fresh += 10000
                break
        else:  # pragma: no cover
            raise AssertionError("chain search failed — generator drifted")
    return [
        (55 * i + 1, " ".join(toks), "en", "srcchain", len(" ".join(toks)))
        for i, toks in enumerate(docs)
    ]


def test_components_past_fixed_unroll_chain_fixture(spark, tmp_path):
    """The case VERDICT r3 flagged: a pair graph whose diameter (7)
    exceeds the OLD fixed iteration count (3). The Spark loop now runs
    to the fix-point, so the whole chain must collapse into ONE
    component labeled with the min doc_id — and the recursive-closure
    oracle must agree (checked via the registered oracle SQL on the
    same fixture)."""
    import duckdb

    from cosmoz_data_pipeline_spark.plans import REGISTRY, release_persists
    from cosmoz_data_pipeline_spark.plans.catalog_ext import (
        q_dedup_components,
        q_dedup_simhash_pairs,
    )
    from tools.compare import compare

    sf_dir = str(tmp_path)
    rows = _chain_corpus(8)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    # 1. the pair graph really is the path we constructed
    pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b").collect()
    )
    ids = [r[0] for r in rows]
    assert pairs == [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)], pairs
    # diameter 7 > the old fixed 3 rounds — exercises propagation rounds 4-7

    # 2. fix-point Spark loop collapses the chain to one component
    got = {
        r["doc_id"]: (r["component"], r["component_size"])
        for r in q_dedup_components(spark, sf_dir).collect()
    }
    assert set(got) == set(ids)
    assert all(comp == ids[0] and size == len(ids) for comp, size in got.values()), got

    # 3. oracle parity on the fixture through the registered SQL
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    ok, msg = compare(
        q_dedup_components(spark, sf_dir), REGISTRY["x_dedup_components"].oracle, con
    )
    assert ok, msg
    release_persists()
    spark.catalog.clearCache()


def test_label_propagation_matches_union_find(spark, sf_dir):
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_simhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    assert pairs, "fixture must contain at least one near-dup pair"
    truth = _union_find(pairs)

    got = {
        r["doc_id"]: (r["component"], r["component_size"])
        for r in q_dedup_components(spark, sf_dir).collect()
    }
    # same node set: every doc in a pair, nothing else
    assert set(got) == set(truth)
    # labels converged to the true component min id
    for doc, root in truth.items():
        assert got[doc][0] == root, f"doc {doc}: {got[doc][0]} != {root}"
    # sizes consistent with the truth partition
    from collections import Counter

    sizes = Counter(truth.values())
    for doc, (comp, size) in got.items():
        assert size == sizes[comp]
    spark.catalog.clearCache()


def test_lazy_tail_checkpoint_identical_labels(spark, sf_dir, monkeypatch):
    # skip-probe supersteps checkpoint lazily (eager=not skip_probe):
    # that changes materialization timing, never values. The tiny
    # corpus keeps every frontier below COMPONENTS_PROBE_LAZY_BELOW,
    # so the shipped run takes the lazy branch; at 0 every superstep
    # probes and checkpoints eagerly.
    from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext as CE
    from cosmoz_data_pipeline_spark.plans.registry import release_persists

    def run():
        trace: list = []
        monkeypatch.setattr(CE, "COMPONENTS_TRACE", trace)
        rows = sorted(
            tuple(r)
            for r in REGISTRY["x_dedup_components"].run(spark, sf_dir).collect()
        )
        release_persists()
        return rows, sum(t["changed"] is None for t in trace)

    base, n_lazy = run()
    assert base
    assert n_lazy > 0  # the lazy-checkpoint branch actually ran
    monkeypatch.setattr(CE, "COMPONENTS_PROBE_LAZY_BELOW", 0)
    eager, n_lazy = run()
    assert n_lazy == 0
    assert eager == base
