"""Tests for the benchmark's own parts (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import gen, oracles
from perfbench.tracer import ProcCpu, Tracer, covered, layer_totals

HERE = os.path.dirname(os.path.abspath(__file__))


# -- generators -----------------------------------------------------------------

def test_ann_inputs_deterministic_per_seed_and_differ_across_seeds(tmp_path):
    a, b, c = (gen.ann_inputs(s, 500, 20, 8) for s in (7, 7, 8))
    assert np.array_equal(a.corpus, b.corpus)
    assert np.array_equal(a.queries, b.queries)
    assert not np.array_equal(a.corpus, c.corpus)
    assert not np.array_equal(a.queries, c.queries)
    pa, pb = tmp_path / "a.bin", tmp_path / "b.bin"
    gen.write_annb(str(pa), a.corpus)
    gen.write_annb(str(pb), b.corpus)
    assert pa.read_bytes() == pb.read_bytes()
    assert len(pa.read_bytes()) == 16 + 500 * gen.DIM * 4


def test_ann_inputs_plant_exact_duplicates():
    x = gen.ann_inputs(3, 1000, 10, 8).corpus
    distinct = len({row.tobytes() for row in x})
    assert 1000 - distinct == pytest.approx(50, abs=5)


def test_doc_inputs_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (gen.doc_inputs(s, 200) for s in (1, 1, 2))
    assert a.texts == b.texts and a.groups == b.groups
    assert np.array_equal(a.emb, b.emb)
    assert a.texts != c.texts
    # planted groups exist and their members' embeddings are near-identical
    assert a.groups
    for g in a.groups:
        e = a.emb[g].astype(np.float64)
        e /= np.linalg.norm(e, axis=1, keepdims=True)
        assert (1.0 - e @ e.T).max() < 1e-3


# -- oracles ----------------------------------------------------------------------

def _exact_rows(corpus, queries, k):
    rows = []
    for qi, q in enumerate(queries):
        d = oracles.l2sq_rows(corpus, np.arange(len(corpus)), q)
        order = np.lexsort((np.arange(len(corpus)), d))[:k]
        rows += [(qi, r + 1, int(i), float(d[i])) for r, i in enumerate(order)]
    return rows


def test_ann_oracle_accepts_exact_answers_and_flags_a_swapped_id():
    data = gen.ann_inputs(5, 300, 6, 4)
    qids = np.arange(6)
    rows = _exact_rows(data.corpus, data.queries, 10)
    good = oracles.group_results(rows)
    assert oracles.check_ann(good, data.queries, qids, data.corpus, 10) == []
    assert oracles.recall_at_k(good, data.queries, qids, data.corpus, 10) == 1.0
    # swap one id for a row that is not at the reported distance
    qid, rank, i, dist = rows[3]
    other = (i + 1) % len(data.corpus)
    rows[3] = (qid, rank, other, dist)
    bad = oracles.group_results(rows)
    assert len(oracles.check_ann(bad, data.queries, qids, data.corpus, 10)) == 1
    assert oracles.recall_at_k(bad, data.queries, qids, data.corpus, 10) < 1.0


def test_ann_oracle_flags_short_repeated_and_unordered_results():
    data = gen.ann_inputs(5, 300, 1, 4)
    rows = _exact_rows(data.corpus, data.queries, 10)
    check = lambda rs: oracles.check_ann(  # noqa: E731
        oracles.group_results(rs), data.queries, [0], data.corpus, 10)
    assert check(rows[:-1])                                   # 9 results
    assert check(rows[:-1] + [(0, 10, rows[0][2], rows[0][3])])  # repeated id
    swapped = list(rows)
    swapped[0], swapped[9] = ((0, 1) + rows[9][2:], (0, 10) + rows[0][2:])
    assert check(swapped)                                     # out of order


def test_read_your_writes_flags_a_stale_read():
    fresh = oracles.group_results([(0, 1, 4000, 0.0), (0, 2, 17, 3.0)])
    stale = oracles.group_results([(0, 1, 17, 3.0), (0, 2, 18, 4.0)])
    assert oracles.check_read_your_writes(fresh, {0: 4000}) == []
    assert oracles.check_read_your_writes(stale, {0: 4000})
    assert oracles.check_read_your_writes({}, {0: 4000})


def test_minhash_oracle_flags_a_pair_below_threshold():
    sh = {1: oracles.shingles("a b c d e f"), 2: oracles.shingles("a b c d e g"),
          3: oracles.shingles("x y z w v u")}
    j12 = oracles.jaccard(sh[1], sh[2])
    assert oracles.check_minhash_pairs([(1, 2, j12)], sh, 0.5) == []
    assert oracles.check_minhash_pairs([(1, 3, 0.9)], sh, 0.5)
    assert oracles.check_minhash_pairs([(2, 1, j12)], sh, 0.5)


def test_shingles_match_the_program_tokenizer():
    assert oracles.shingles("The  quick, brown fox!", 3) == frozenset(
        {"the quick brown", "quick brown fox"})
    assert oracles.shingles("too short", 3) == frozenset()


def test_embedding_oracle_flags_a_dropped_pair():
    docs = gen.doc_inputs(4, 150)
    want = oracles.embedding_pairs_bruteforce(docs.emb, 0.05)
    planted = {(a, b) for g in docs.groups for i, a in enumerate(g) for b in g[i + 1:]}
    assert want == planted
    dropped = set(want)
    dropped.pop()
    assert oracles.check_pair_set(want, want) == []
    assert oracles.check_pair_set(dropped, want)


def test_keep_set_oracle_flags_a_dropped_pair():
    pairs = [(1, 5), (5, 9), (2, 3)]
    ids = range(10)
    assert oracles.keep_set(ids, pairs) == {0, 1, 2, 4, 6, 7, 8}
    assert oracles.check_keep_set({0, 1, 2, 4, 6, 7, 8}, ids, pairs) == []
    # a keep set computed without the (5, 9) pair keeps doc 9 too
    assert oracles.check_keep_set({0, 1, 2, 4, 6, 7, 8, 9}, ids, pairs)


# -- schedules --------------------------------------------------------------------

def test_serve_mixed_every_round_is_read_read_wave_read():
    from perfbench.workloads import ServeMixed

    wl = ServeMixed(ctx=None, seed=0)
    ops: list[str] = []
    wl.read = lambda: ops.append("R")
    wl.wave = lambda: ops.append("W")
    wl.replay(3 * wl.round_ops)
    assert "".join(ops) == "RRWR" * 3


# -- tail percentile --------------------------------------------------------------

@pytest.mark.parametrize("n", [11, 20, 50, 55, 99, 100, 101, 1000, 1234])
def test_tail_percentile_is_highest_with_ten_beyond(n):
    xs = list(np.random.default_rng(n).permutation(n).astype(float))
    p, value, beyond = oracles.tail_percentile(xs)
    srt = sorted(xs)
    assert beyond >= 10
    assert sum(1 for x in srt if x > value) == beyond
    # one percentile higher leaves fewer than ten samples beyond
    if p < 100:
        rank_next = int(np.ceil((p + 1) * n / 100))
        assert n - rank_next < 10


def test_tail_percentile_known_values():
    assert oracles.tail_percentile(range(1, 101)) == (90, 90, 10)
    assert oracles.tail_percentile(range(1, 1001)) == (99, 990, 10)
    assert oracles.tail_percentile(range(10)) is None


# -- tracer -----------------------------------------------------------------------

class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def tick(self, dt):
        self.t += dt


def test_self_times_sum_to_root_wall():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.enabled = True
    with tr.trace("op"):
        clock.tick(1.0)
        with tr.span("index.builder.build"):
            clock.tick(2.0)
            with tr.span("operators.shard.assign"):
                clock.tick(3.0)
            clock.tick(0.5)
        with tr.span("index.persistence.save"):
            clock.tick(4.0)
        clock.tick(0.25)
    tr.finish()
    root = next(s for s in tr.spans if s.parent_id is None)
    assert root.wall_s == pytest.approx(10.75)
    assert sum(s.self_s for s in tr.spans) == pytest.approx(root.wall_s)
    by = {s.name: s for s in tr.spans}
    assert by["index.builder.build"].self_s == pytest.approx(2.5)
    assert by["operators.shard.assign"].parent_id == by["index.builder.build"].span_id
    assert len({s.trace_id for s in tr.spans}) == 1
    totals = layer_totals(tr.spans)
    assert totals["index.builder"]["wall_s"] == pytest.approx(5.5)
    assert totals["operators.shard"]["self_s"] == pytest.approx(3.0)


def test_each_operation_gets_its_own_trace_and_disabled_records_nothing():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.trace("op"), tr.span("x.y"):
        clock.tick(1)
    assert tr.spans == []
    tr.enabled = True
    for _ in range(3):
        with tr.trace("op"), tr.span("x.y"):
            clock.tick(1)
    assert len({s.trace_id for s in tr.spans}) == 3


def test_a_trace_opened_inside_another_is_a_child_span():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    tr.enabled = True
    with tr.trace("setup", kind="setup"):
        with tr.trace("bulk"), tr.span("index.builder.build"):
            clock.tick(2)
        clock.tick(1)
    tr.finish()
    assert list(tr.traces.values()) == [{"name": "setup", "kind": "setup"}]
    by = {s.name: s for s in tr.spans}
    assert by["bulk"].parent_id == by["setup"].span_id
    assert by["setup"].self_s == pytest.approx(1.0)


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert covered([]) == 0


def test_proc_cpu_reads_this_process():
    if not os.path.isdir("/proc/self"):
        pytest.skip("needs /proc")
    cpu = ProcCpu()
    a = cpu.snapshot()
    sum(i * i for i in range(300_000))
    b = cpu.snapshot()
    assert set(a) == {"cpu_driver_s", "cpu_jvm_s", "cpu_pyworker_s"}
    assert b["cpu_driver_s"] >= a["cpu_driver_s"]


# -- the benchmark description ----------------------------------------------------

def test_benchmark_json_matches_the_code():
    from perfbench.run import per_layer_names
    from perfbench.workloads import END_TO_END, WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == per_layer_names()
