"""Self-tests of the benchmark's statistics and load generation (no Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import numpy as np
import pytest

import checks
import datagen
import loadgen
import spans


def test_percentile_needs_ten_samples_beyond_it():
    # p90 of n samples sits at rank ceil(0.9 n); n - rank must be >= 10
    assert loadgen.percentile(list(range(99)), 90) is None
    assert loadgen.percentile([float(i) for i in range(100)], 90) == 89.0
    assert loadgen.percentile([float(i) for i in range(20)], 50) == 9.0
    assert loadgen.percentile([float(i) for i in range(19)], 50) is None
    assert loadgen.percentile([], 50) is None
    with pytest.raises(ValueError):
        loadgen.percentile([1.0], 100)


def test_median_reports_any_sample_count():
    assert loadgen.median([]) is None
    assert loadgen.median([3.0]) == 3.0
    assert loadgen.median([1.0, 2.0, 10.0, 11.0]) == 6.0


def test_timed_window_is_a_fixed_op_count():
    assert loadgen.window_ops(26, 2.0, 1, trace=False) == 13
    assert loadgen.window_ops(20, 2.0, 1, trace=False) == 10
    assert loadgen.window_ops(20, 2.0, 1, trace=True) == 10
    assert loadgen.window_ops(1, 2.0, 1, trace=False) == 1
    assert loadgen.window_ops(1, 2.0, 1, trace=True) == 2  # one traced, one not
    assert loadgen.window_ops(20, 0.35, 16, trace=False) == 64  # whole rounds
    assert loadgen.window_ops(2, 0.35, 16, trace=True) == 32


def test_failures_count_against_attempts():
    log = loadgen.OpLog()
    log.record(0.5, ok=True)
    log.record(None, ok=False)
    log.record(0.7, ok=True)
    log.record(0.6, ok=True)
    assert (log.attempted, log.failed, log.latencies) == (4, 1, [0.5, 0.7, 0.6])
    log.fail_checked(1)  # one completed op returned a wrong result
    assert log.failed == 2 and log.error_rate == 0.5
    with pytest.raises(ValueError):
        log.fail_checked(3)  # only 2 ops are left that could be wrong
    assert loadgen.OpLog().error_rate == 0.0


NAMES = [f"q{i}" for i in range(16)]


def test_kpi_mix_is_seeded_and_balanced():
    a = loadgen.kpi_mix(7, NAMES, rounds=5)
    assert a == loadgen.kpi_mix(7, list(reversed(NAMES)), rounds=5)
    assert a != loadgen.kpi_mix(8, NAMES, rounds=5)
    for r in range(5):
        assert sorted(a[r * 16 : (r + 1) * 16]) == sorted(NAMES)


def _keys(n: int = 50_000) -> loadgen.FactKeys:
    rng = np.random.default_rng(0)
    tempo = np.sort(rng.integers(19950101, 20010801, n))
    ids = rng.permutation(n).astype(np.int64) * 100 + 1
    return loadgen.FactKeys(ids_by_date=ids, sk_tempo_by_date=tempo, next_orderkey=n)


def test_upsert_batches_are_seeded():
    keys = _keys()
    a = loadgen.upsert_batch(3, 0, keys)
    b = loadgen.upsert_batch(3, 0, keys)
    assert all(np.array_equal(a[c], b[c]) for c in a)
    assert not np.array_equal(a["id_venda"], loadgen.upsert_batch(4, 0, keys)["id_venda"])
    assert not np.array_equal(a["id_venda"], loadgen.upsert_batch(3, 1, keys)["id_venda"])


def test_upsert_batch_proportions():
    keys = _keys()
    mix = loadgen.BATCH_MIX
    batches = [loadgen.upsert_batch(5, i, keys) for i in range(3)]
    existing = set(keys.ids_by_date.tolist())
    cut = len(keys.ids_by_date) - int(len(keys.ids_by_date) * loadgen.RECENT_SHARE)
    recent = set(keys.ids_by_date[cut:].tolist())
    new_ids: set[int] = set()
    for b in batches:
        ids = b["id_venda"].tolist()
        assert len(ids) == loadgen.BATCH_ROWS == len(set(ids))
        n_recent = sum(i in recent for i in ids)
        n_old = sum(i in existing and i not in recent for i in ids)
        fresh = [i for i in ids if i not in existing]
        assert n_recent == round(loadgen.BATCH_ROWS * mix["recent_update"])
        assert n_old == round(loadgen.BATCH_ROWS * mix["older_update"])
        assert new_ids.isdisjoint(fresh)  # no two batches insert one key
        new_ids.update(fresh)
        assert np.all(b["valor_total"] + b["valor_desconto"] - b["qtd_vendida"] * b["valor_unitario"] < 0.02)


def test_inputs_do_not_depend_on_the_run_seed(tmp_path):
    scale = datagen.Scale(customers=50, suppliers=5, parts=40, orders=300, documents=60)
    a, b = tmp_path / "a", tmp_path / "b"
    counts = datagen.write_inputs(scale, str(a))
    datagen.write_inputs(scale, str(b))
    assert datagen.checksum(str(a)) == datagen.checksum(str(b))
    li = datagen.build_tables(scale)["lineitem"]
    assert counts["lineitem"] == li.num_rows
    keys = set(zip(li["l_orderkey"].to_pylist(), li["l_linenumber"].to_pylist()))
    assert len(keys) == li.num_rows  # id_venda is a key


def test_row_comparison_rules():
    assert checks.same_rows([("a", 1, 1.0)], [("a", 1, 1.0 + 1e-12)])
    assert not checks.same_rows([("a", 1, 1.0)], [("a", 1, 1.0 + 1e-6)])
    assert not checks.same_rows([("a", 1, 1.0)], [("a", 2, 1.0)])
    assert not checks.same_rows([("a", 1, 1.0)], [("b", 1, 1.0)])
    assert checks.same_rows([("b", 2, 2.0), ("a", 1, 1.0)], [("a", 1, 1.0), ("b", 2, 2.0)])
    assert not checks.same_rows([("a", 1, 1.0)], [])


def test_parse_spark_size():
    assert spans.parse_size("3.8 MiB") == 3.8 * 2**20
    assert spans.parse_size("512.0 B") == 512.0
    assert spans.parse_size("total (min, med, max)\n1,024.0 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB)") == 1024.0 * 2**10
    assert spans.parse_size("") == 0.0


def _span(id_, name, parent, op, start, end, **kw):
    counters = dict.fromkeys(("tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "scan_mb"), 0.0)
    counters.update(kw)
    return {"id": id_, "name": name, "layer": name.split(".")[0], "parent": parent, "op": op,
            "start": start, "end": end, **counters}


def test_layer_self_time_subtracts_child_spans():
    spans_ = [
        _span(1, "sources.load_table", 2, 5, 0.1, 0.3, scan_mb=2.0),
        _span(2, "plans.plan", 0, 5, 0.0, 1.0),
        _span(3, "sinks.write_table", 0, 5, 1.0, 3.0, bytes=4e6, files=2, tasks=8, task_s=4.0),
        _span(0, "op", None, 5, 0.0, 4.0, tasks=1, task_s=0.5),
        _span(4, "plans.plan", None, None, 9.0, 10.0),  # set-up: not an op
    ]
    ops = spans.per_op_layers(spans_, cores=2)
    assert list(ops) == [5]
    m = ops[5]
    assert abs(m["sources.load_s"] - 0.2) < 1e-9
    assert abs(m["plans.plan_ms"] - 800.0) < 1e-6  # 1.0 s minus the 0.2 s load
    assert m["sinks.write_s"] == 2.0 and m["sinks.mb_written"] == 4.0 and m["sinks.files_written"] == 2
    assert m["spark.tasks"] == 9 and m["spark.task_s"] == 4.5
    assert m["spark.core_util"] == 4.5 / (4.0 * 2)
    assert m["sources.input_mb"] == 2.0
    assert m["plans.spans"] == 1 and m["sources.spans"] == 1
