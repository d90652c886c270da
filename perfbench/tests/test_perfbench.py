"""The benchmark's own checks: percentile rule, generator determinism and
the oracle's rejection of a wrong answer.  No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.common import beyond, tail_percentile  # noqa: E402


# ------------------------------------------------------------ percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(99) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    for n in range(1, 2000):
        q = tail_percentile(n)
        if q is not None:
            assert beyond(n, q) >= 10


def test_beyond_counts_samples_after_the_nearest_rank():
    assert beyond(100, 90) == 10
    assert beyond(99, 90) == 9
    assert beyond(20, 50) == 10
    assert beyond(1, 50) == 0


# ------------------------------------------------------------ determinism
def test_visits_ledger_is_a_function_of_the_seed(tmp_path):
    a = gen.visits_ledger(5, 2000, 30, str(tmp_path / "a" / "v.parquet"))
    b = gen.visits_ledger(5, 2000, 30, str(tmp_path / "b" / "v.parquet"))
    c = gen.visits_ledger(6, 2000, 30, str(tmp_path / "c" / "v.parquet"))
    assert gen.content_hash([a["path"]]) == gen.content_hash([b["path"]])
    assert gen.content_hash([a["path"]]) != gen.content_hash([c["path"]])


def test_cdc_feed_is_a_function_of_the_seed(tmp_path):
    def feed(d, seed):
        f = gen.CdcFeed(seed, str(tmp_path / d))
        f.make(10)
        files = [b[k] for b in f.batches for k in ("hits_file", "visits_file")]
        return gen.content_hash(files), [b["sign_by_day"] for b in f.batches]

    assert feed("a", 5) == feed("b", 5)
    assert feed("a2", 5)[0] != feed("c", 6)[0]


def test_cdc_feed_lands_late_versions_in_closed_weeks(tmp_path):
    f = gen.CdcFeed(5, str(tmp_path / "f"))
    f.make(40)  # 10 simulated days: the second week sees late versions
    assert any(b["late_rows"] for b in f.batches if b["day"] >= 7)
    # every batch holds new visits, and updates net to zero per visit
    for b in f.batches:
        assert sum(b["sign_by_day"].values()) == gen.NEW_VISITS - gen.DELETES or b["b"] == 0


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen.corpus(5, 300, str(tmp_path / "a"))
    b = gen.corpus(5, 300, str(tmp_path / "b"))
    files = lambda t: sorted(  # noqa: E731
        os.path.join(p, f) for p in t["paths"] for f in os.listdir(p)
    )
    assert gen.content_hash(files(a)) == gen.content_hash(files(b))
    assert a["kept"] == b["kept"] and a["near_pairs"] == b["near_pairs"]


def test_corpus_injections_meet_their_thresholds(tmp_path):
    t = gen.corpus(5, 300, str(tmp_path / "c"))
    assert t["near_pairs"] and t["far_pairs"] and t["exact_pairs"] and t["vec_pairs"]
    kept = set(t["kept"])
    vec_dups = {b for _, b in t["vec_pairs"]}
    assert not kept & vec_dups
    for a, b in t["near_pairs"] + t["exact_pairs"]:
        assert b not in kept and (a in kept or a in vec_dups)
        assert gen.jaccard(t["text"][a], t["text"][b]) >= (1.0 if (a, b) in t["exact_pairs"] else 0.8)
    for a, b in t["far_pairs"]:
        assert gen.jaccard(t["text"][a], t["text"][b]) <= 0.2


# ----------------------------------------------------------------- oracle
@pytest.fixture(scope="module")
def ledger(tmp_path_factory):
    d = tmp_path_factory.mktemp("l")
    out = gen.visits_ledger(7, 3000, 28, str(d / "v.parquet"))
    out["dim"] = gen.counters(7, str(d / "c.parquet"))
    return out


@pytest.mark.parametrize("kind", sorted(oracle.ORACLES))
def test_oracle_rejects_a_flipped_sign_answer(ledger, kind):
    con = duckdb.connect()
    src = f"read_parquet('{ledger['path']}')"
    # the same ledger with every cancel row turned into a state row
    flipped = f"(SELECT * REPLACE (CAST(abs(Sign) AS TINYINT) AS Sign) FROM {src})"
    f, t = gen.day_of(0).isoformat(), gen.day_of(27).isoformat()
    dim = ledger["dim"]
    want = oracle.expected(con, kind, src, f, t, dim=dim)
    wrong = con.sql(oracle.ORACLES[kind].format(src=flipped, f=f, t=t, dim=dim)).fetchall()
    right = con.sql(oracle.ORACLES[kind].format(src=src, f=f, t=t, dim=dim)).fetchall()
    assert want, "the oracle must produce rows for this interval"
    assert oracle.matches(kind, right, want)
    assert not oracle.matches(kind, wrong, want)
