"""Properties of the seeded input generators (no Spark needed)."""

from __future__ import annotations

import hashlib
import os
import re
import sys
from collections import defaultdict

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


def _digest_dir(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def _write_all(seed: int, out: str) -> dict[str, str]:
    cs = gen.carsales(seed, 200, 20, 3)
    os.makedirs(out)
    for i, rows in enumerate([cs.base, *cs.batches]):
        gen.write_carsales_csv(rows, os.path.join(out, f"batch_{i}.csv"))
    tables, _, _ = gen.analytics_tables(seed, 0.001)
    gen.write_tables(tables, out)
    return _digest_dir(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _write_all(7, str(tmp_path / "a")) == _write_all(7, str(tmp_path / "b"))


def test_different_seed_gives_different_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(8, str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[f] != b[f] for f in a if f not in ("region.parquet", "nation.parquet"))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_batch_attributes_depend_only_on_their_key(seed):
    cs = gen.carsales(seed, 300, 40, 6)
    for rows in [cs.base, *cs.batches]:
        for key, attr in [("Branch_ID", "BranchName"), ("Dealer_ID", "DealerName"),
                          ("Date_ID", "Day"), ("Date_ID", "Year")]:
            seen = defaultdict(set)
            for r in rows:
                seen[r[key]].add(r[attr])
            assert all(len(v) == 1 for v in seen.values()), (key, attr)


def test_batches_exercise_insert_update_and_resend_paths():
    cs = gen.carsales(5, 300, 40, 6)
    branch_names = {r["Branch_ID"]: r["BranchName"] for r in cs.base}
    seen_branches = set(branch_names)
    for rows, stats in zip(cs.batches, cs.batch_stats):
        keys = {r["Branch_ID"] for r in rows}
        assert stats["new_rows"] > 0 and keys - seen_branches  # insert path
        renamed = {k for k in keys & branch_names.keys() if
                   branch_names[k] != next(r["BranchName"] for r in rows if r["Branch_ID"] == k)}
        assert stats["renamed_keys"] > 0 and renamed  # SCD1 update path
        assert stats["resent_rows"] > 0
        seen_branches |= keys
        branch_names.update({r["Branch_ID"]: r["BranchName"] for r in rows})


def _normalized(t: str) -> str:
    # the engine's fingerprint normalization: lower, trim, collapse spaces
    return re.sub(r"\s+", " ", t.strip().lower())


def _shingles(t: str, n: int = 3) -> set[str]:
    toks = re.split(r"\s+", t.lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@pytest.mark.parametrize("seed", [1, 9])
def test_planted_document_duplicates_match_the_reported_counts(seed):
    c = gen.corpus(seed, 300)
    texts = c.docs.column("text").to_pylist()
    assert len({_normalized(t) for t in texts}) == c.n_exact_survivors
    for a, b in c.exact_pairs:
        assert texts[a] != texts[b] and _normalized(texts[a]) == _normalized(texts[b])
    for a, b in c.near_pairs:
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        assert a < b and len(sa & sb) / len(sa | sb) >= 0.85
    assert len(c.exact_pairs) == 30 and len(c.near_pairs) == 30 and c.n_low_quality == 15
    junk = [t for t in texts if not re.search("[a-z]", t)]
    assert len(junk) == c.n_low_quality


@pytest.mark.parametrize("seed", [1, 9])
def test_planted_vector_near_copies_match_the_reported_pairs(seed):
    e = gen.embeddings(seed, 400)
    v = np.asarray(e.table.column("embedding").combine_chunks().flatten(), np.float64)
    v = v.reshape(e.table.num_rows, -1)
    u = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = u @ u.T
    np.fill_diagonal(sims, 0)
    planted = {tuple(sorted(p)) for p in e.near_pairs}
    found = {tuple(sorted(p)) for p in zip(*np.nonzero(np.triu(sims) > 0.99))}
    assert len(e.near_pairs) == 20 and found == planted
