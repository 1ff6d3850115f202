"""Tests of the benchmark itself: seeded generators, the closed-form
expectation checks, span arithmetic and the metric catalogue.

    python3 -m pytest perfbench/tests -q

The one Spark test loads a tiny vault (20 customers) end to end.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpusgen  # noqa: E402
import run  # noqa: E402
import vaultgen  # noqa: E402
import workloads  # noqa: E402
from tracing import Span, Tracer, attribute_jobs, EventLog, self_times, union_length  # noqa: E402


# -- generators --------------------------------------------------------------


def _rows(flows):
    return [f.rows for f in flows]


def test_vault_generator_is_deterministic_per_seed():
    a = vaultgen.tpch_tables(5, 60)
    b = vaultgen.tpch_tables(5, 60)
    c = vaultgen.tpch_tables(6, 60)
    boot_a, batches_a = vaultgen.incremental_flows(5, a, 3)
    boot_b, batches_b = vaultgen.incremental_flows(5, b, 3)
    boot_c, _ = vaultgen.incremental_flows(6, c, 3)
    assert a.customer == b.customer and (a.l_ship == b.l_ship).all()
    assert _rows(boot_a) == _rows(boot_b)
    assert [_rows(bt) for bt in batches_a] == [_rows(bt) for bt in batches_b]
    assert _rows(boot_a) != _rows(boot_c)
    # sizes are fixed by n_customers, not by the seed
    assert (len(a.customer), len(a.o_day)) == (len(c.customer), len(c.o_day)) == (60, 600)
    assert len(batches_a) == 3
    assert len(boot_a[1].rows) == pytest.approx(len(a.o_day) * vaultgen.HISTORY_SHARE, abs=3)


def test_incremental_batches_follow_the_tpch_date_rules():
    t = vaultgen.tpch_tables(1, 1500)
    boot, batches = vaultgen.incremental_flows(1, t, 2)
    n_lines = len(t.l_order)
    history = len(boot[2].rows)
    for b, (cust, orders, lines) in enumerate(batches):
        # a batch is 1-2 % of the lineitems, the history 50-100x a batch
        assert 0.01 <= len(lines.rows) / n_lines <= 0.02
        assert 50 <= history / len(lines.rows) <= 100
        history += len(lines.rows)
    # every earlier order in a batch changed status: O -> P/F or P -> F
    before = {r[0]: r[2] for r in boot[1].rows}
    cut = max(before)
    changed = [r for r in batches[0][1].rows if r[0] <= cut]
    assert changed and all((before[r[0]], r[2]) in {("O", "P"), ("O", "F"), ("P", "F")}
                           for r in changed)
    # a line is open until it ships and flagged N until it is received
    for *_, rf, ls, _ship in boot[2].rows + batches[0][2].rows:
        assert rf == "N" or ls == "F"
    # customers: the ones who ordered have new balances; refresh-rate churn
    n_refresh = round(1500 * vaultgen.REFRESH_SHARE)
    old = {r[0]: r for r in boot[0].rows}
    new = {r[0]: r for r in batches[0][0].rows}
    assert len(set(old) - set(new)) == len(set(new) - set(old)) == n_refresh
    ordered = {r[1] for r in batches[0][1].rows if r[0] > cut}
    assert {k for k in set(old) & set(new) if old[k] != new[k]} == ordered & set(old) & set(new)


def test_corpus_shard_is_deterministic_and_planted_as_declared():
    c1, c2 = corpusgen.corpus(3, 200), corpusgen.corpus(3, 200)
    assert c1.docs == c2.docs and (c1.vectors == c2.vectors).all()
    s1, s2 = corpusgen.shard(3, 1, c1), corpusgen.shard(3, 1, c2)
    assert s1.docs == s2.docs and s1.contaminated == s2.contaminated
    assert len(s1.docs) == corpusgen.SHARD_DOCS
    assert len(s1.exact_copies) == corpusgen.SHARD_EXACT_COPIES
    assert len(s1.low_quality) == corpusgen.SHARD_SHORT + corpusgen.SHARD_REPETITIVE
    assert len(s1.contaminated) >= corpusgen.SHARD_CONTAMINATED
    assert len(s1.must_find) > 0.9 * corpusgen.SHARD_NEARDUPS
    assert {d for d, _ in s1.docs}.isdisjoint({d for d, _ in c1.docs})
    # only planted near-duplicates may repeat corpus text (an edit can draw
    # the word it replaces), never a document by accident of the streams
    s0 = corpusgen.shard(3, 0, c1)
    unplanted = {t for d, t in s0.docs if d not in s0.neardup_of}
    assert unplanted.isdisjoint({t for _, t in c1.docs})
    assert {d for d, _ in s1.docs}.isdisjoint({d for d, _ in corpusgen.shard(3, 2, c1).docs})
    # the warm-up shard: the same composition, scaled
    quarter = corpusgen.shard(3, 4, c1, planted=corpusgen.PLANTED // 4)
    assert len(quarter.docs) == corpusgen.SHARD_DOCS // 4
    assert len(quarter.exact_copies) == corpusgen.SHARD_EXACT_COPIES // 4
    assert len(quarter.low_quality) == (corpusgen.SHARD_SHORT
                                        + corpusgen.SHARD_REPETITIVE) // 4
    assert len(quarter.neardup_of) == len(corpusgen.NEARDUP_EDITS) * corpusgen.SHARD_NEARDUPS // 4


# -- closed-form expectation --------------------------------------------------


def _flow(source, rows, day):
    return vaultgen.Flow(source, rows, vaultgen.LOAD_TS0 + dt.timedelta(days=day))


def test_model_sat_semantics():
    m = vaultgen.VaultModel()
    m.apply(_flow("customer", [(1, "a", 1, 10, "X"), (2, "b", 2, 20, "Y")], 0))
    m.apply(_flow("customer", [(1, "a", 1, 11, "X")], 1))      # 1 changes, 2 vanishes
    m.apply(_flow("customer", [(1, "a", 1, 11, "X"), (2, "b", 2, 20, "Y")], 2))
    counts = m.row_counts()
    # v1(1), v1(2), v2(1), tombstone(2), v2(2) — the unchanged 1 adds nothing
    assert counts["hsat_customer_details"] == 5
    assert counts["hub_customer"] == 2
    assert m.customer(2) == ("b", 20, False)


def test_model_checksum_catches_a_planted_mismatch():
    t = vaultgen.tpch_tables(2, 20)
    m1, m2 = vaultgen.VaultModel(), vaultgen.VaultModel()
    boot, _ = vaultgen.incremental_flows(2, t, 1)
    for f in boot:
        m1.apply(f)
        m2.apply(f)
    assert m1.cv_checksums() == m2.cv_checksums()
    k = boot[1].rows[0][0]
    hk = vaultgen.dv_hash(k)
    payload, alive, ts = m2.sats["hsat_order_details"].latest[hk]
    m2.sats["hsat_order_details"].latest[hk] = (("X",) + payload[1:], alive, ts)
    assert m1.cv_checksums()["hsat_order_details"] != m2.cv_checksums()["hsat_order_details"]
    assert m1.cv_checksums()["hsat_order_terms"] == m2.cv_checksums()["hsat_order_terms"]


class _FakeSpark:
    """Answers the check's two queries from a model, with one count off."""

    def __init__(self, model, off_by: int):
        self.model, self.off_by = model, off_by

    def sql(self, q):
        if "crc32" in q:
            rows = [types.SimpleNamespace(sat=s, n=n, cs=cs)
                    for s, (n, cs) in self.model.cv_checksums().items()]
        else:
            counts = self.model.row_counts()
            counts["hub_part"] += self.off_by
            rows = [types.SimpleNamespace(t=t, n=n) for t, n in counts.items()]
        return types.SimpleNamespace(collect=lambda: rows)


@pytest.mark.parametrize("off_by,failed", [(0, 0), (1, 1)])
def test_vault_check_counts_a_mismatch_as_failed(tmp_path, off_by, failed):
    wl = workloads.VaultIncremental(None, Tracer(), str(tmp_path), 1)
    for f in vaultgen.incremental_flows(1, vaultgen.tpch_tables(1, 20), 1)[0]:
        wl.model.apply(f)
    wl.spark = _FakeSpark(wl.model, off_by)
    wl.dbs = workloads.vault_dbs("t")
    wl.check()
    assert (wl.attempted, wl.failed) == (2, failed)


def test_read_mismatch_and_raise_count_as_failed(tmp_path):
    wl = workloads.Workload(None, Tracer(), str(tmp_path), 1)
    wl.read("lookup", lambda: 1, 1)
    wl.read("lookup", lambda: 2, 1)
    wl.read("lookup", lambda: 1 / 0, 1)
    assert (wl.attempted, wl.failed) == (3, 2)


def test_a_raising_flow_counts_as_failed_and_keeps_its_span(tmp_path):
    def execute_flow(*args, **kwargs):
        raise RuntimeError("boom")

    wl = workloads.VaultIncremental(None, Tracer(), str(tmp_path), 1)
    wl.vault = types.SimpleNamespace(execute_flow=execute_flow)
    f = _flow("customer", [(1, "a", 1, 10, "X")], 0)
    wl.flow(f, "test")
    assert (wl.attempted, wl.failed) == (1, 1) and "boom" in wl.failures[0]
    assert wl.measured_flows()[0].span.name == "flow.executor"


# -- spans ---------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [Span(0, "flow", None, 0.0, 10.0),
             Span(1, "hub", 0, 1.0, 4.0),
             Span(2, "link", 0, 3.0, 6.0),       # overlaps hub by 1 s
             Span(3, "inner", 1, 1.5, 2.0),
             Span(4, "read", None, 11.0, 12.5)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.5)
    # self times of a tree add up to its root's duration
    assert st[0] + st[1] + st[3] + 3.0 - 1.0 == pytest.approx(10.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tracer_nests_spans_and_wrappers_restore():
    tr = Tracer(layers=True)
    mod = types.SimpleNamespace(work=lambda x: x + 1)
    tr.wrap(mod, "work", "layer.work")
    with tr.span("outer"):
        assert mod.work(1) == 2
    tr.unwrap_all()
    assert mod.work(1) == 2 and len(tr.spans) == 2
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_pool_thread_spans_nest_under_the_client_span():
    import threading

    tr = Tracer()
    with tr.span("flow"):
        worker = threading.Thread(target=lambda: tr.span("stage").__enter__())
        worker.start()
        worker.join()
    flow, stage = tr.spans
    assert stage.parent == flow.id


def test_event_log_attribution():
    log = EventLog(jobs=[(0.0, 1.0, 4), (2.0, 3.0, 2), (10.0, 11.0, 8)],
                   tasks=[{"launch": 0.5, "finish": 0.9, "cpu_s": 0.4,
                           "shuffle_write": 100, "spill": 0}])
    sp = attribute_jobs(log, [(0.0, 4.0)], nproc=2)
    assert sp["jobs_per_flow"] == 2 and sp["tasks_per_flow"] == 6
    assert sp["job_gap_s"] == pytest.approx(2.0)
    assert sp["executor_cpu_util"] == pytest.approx(0.4 / 8.0)


def test_app_cpu_clock_keeps_the_time_of_exited_threads():
    import threading

    import hostinfo

    # this process stands in for both the driver and the JVM
    clock = hostinfo.AppCpuClock(os.getpid(), os.getpid())
    stop = threading.Event()
    worker = threading.Thread(target=lambda: [None for _ in iter(stop.is_set, True)])
    start = clock()
    worker.start()
    time.sleep(0.3)
    mid = clock()
    stop.set()
    worker.join(timeout=5)
    assert not worker.is_alive()
    assert mid - start > 0.2          # the busy thread's time is on the clock
    assert clock() >= mid             # and stays there after it exits


# -- catalogue -----------------------------------------------------------------


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert set(run.SELF_TIME_SPANS) <= set(run.PER_LAYER)


# -- end to end on a tiny vault ----------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pytest.importorskip("pyspark")
    work = str(tmp_path_factory.mktemp("spark"))
    s = run.start_spark(work, 2, trace=False)
    yield s
    run.stop_spark(s)


def test_tiny_vault_matches_the_closed_form_and_a_tamper_fails(spark, tmp_path):
    wl = workloads.VaultIncremental(spark, Tracer(), str(tmp_path), 4)
    t = vaultgen.tpch_tables(4, 20)
    boot, batches = vaultgen.incremental_flows(4, t, 1)
    wl.write_inputs(boot, "boot")
    wl.write_inputs(batches[0], "b0")
    wl.new_vault("tiny")
    for f in boot + batches[0]:
        wl.flow(f, "test")
    wl.check()
    assert wl.failed == 0, wl.failures
    # a flow the expectation never saw must show up as a mismatch
    extra = vaultgen.Flow("customer", [(999, "Customer#000000999", 1, 5, "X")],
                          vaultgen.LOAD_TS0 + dt.timedelta(days=40))
    vaultgen.write_flow(extra, str(tmp_path / "extra.parquet"))
    wl.vault.execute_flow("customer", "test", extra.path, load_date_overwrite=extra.load_dts)
    wl.check()
    assert wl.failed == 2
