"""Load generation and statistics for the benchmark (no Spark here).

Everything the ``--seed`` argument drives lives in this module: the order of
the KPI mix and the keys of the upsert batches. The inputs themselves come
from ``datagen`` with a fixed seed. Kept free of Spark so its behaviour is
covered by fast self-tests (``test_perfbench.py``).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

import numpy as np

#: a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10

#: fact_upsert batch: rows per batch and the share of each kind of row
BATCH_ROWS = 1000
BATCH_MIX = {"recent_update": 0.6, "older_update": 0.2, "new_order": 0.2}
#: "recent" orders are the newest 10% of fact rows by order date
RECENT_SHARE = 0.10


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile of ``samples``, or None when fewer
    than ``MIN_TAIL_SAMPLES`` samples lie beyond it."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must be in (0, 100), got {p}")
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float | None:
    """Median of ``samples``, or None when there are none. Unlike
    ``percentile`` it is reported at any sample count (the run record always
    prints the count beside it)."""
    return statistics.median(samples) if samples else None


def window_ops(seconds: float, op_s: float, round_ops: int, trace: bool) -> int:
    """Ops in a run's timed window: ``seconds`` of ops at the nominal
    ``op_s`` seconds each, in whole rounds of ``round_ops``, and at least
    two rounds in a traced run (one traced, one not). It depends only on its
    arguments, so every run on every host times the same ops."""
    rounds = max(2 if trace else 1, round(seconds / op_s / round_ops))
    return rounds * round_ops


@dataclass
class OpLog:
    """Outcome of every operation a closed-loop client attempted."""

    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def record(self, latency: float | None, ok: bool) -> None:
        """Count one attempt; only successful operations carry a latency."""
        self.attempted += 1
        if ok:
            self.latencies.append(latency)
        else:
            self.failed += 1

    def fail_checked(self, n: int) -> None:
        """Mark ``n`` completed operations as wrong-result failures (found by
        the output checks after the timed region)."""
        if n < 0 or n > self.attempted - self.failed:
            raise ValueError(f"cannot fail {n} of {self.attempted - self.failed} successful ops")
        self.failed += n

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def kpi_mix(seed: int, names: list[str], rounds: int) -> list[str]:
    """``rounds`` seeded permutations of ``names``, concatenated. Every round
    runs each query once, so the mix composition is the same for every seed
    and only the order changes."""
    rng = np.random.default_rng([seed, 1])
    order = sorted(names)
    out: list[str] = []
    for _ in range(rounds):
        out.extend(order[i] for i in rng.permutation(len(order)))
    return out


@dataclass(frozen=True)
class FactKeys:
    """What batch generation needs to know about the committed fact: its
    keys sorted by order date (oldest first), their date keys in the same
    order, and the first unused order number for new orders."""

    ids_by_date: np.ndarray
    sk_tempo_by_date: np.ndarray
    next_orderkey: int


def upsert_batch(seed: int, index: int, keys: FactKeys) -> dict[str, np.ndarray]:
    """Batch ``index`` of the ``fact_upsert`` stream as fact columns.

    ``BATCH_MIX`` fixes the shares: updates drawn from the newest
    ``RECENT_SHARE`` of rows, updates drawn uniformly from the older rows,
    and lines of new orders whose keys no earlier batch used. An updated row
    keeps its order date and gets new measures and dimension keys (all
    within the smallest dimension's key range). Keys are unique within a
    batch; batch ``index`` depends only on ``(seed, index)``."""
    rng = np.random.default_rng([seed, 2, index])
    n_rec = round(BATCH_ROWS * BATCH_MIX["recent_update"])
    n_old = round(BATCH_ROWS * BATCH_MIX["older_update"])
    n_new = BATCH_ROWS - n_rec - n_old
    ids = keys.ids_by_date
    cut = len(ids) - max(1, int(len(ids) * RECENT_SHARE))
    pos = np.concatenate(
        [cut + rng.choice(len(ids) - cut, n_rec, replace=False), rng.choice(cut, n_old, replace=False)]
    )
    # one new order per 5 lines; order numbers advance with the batch index
    first = keys.next_orderkey + index * n_new
    new = (first + np.arange(n_new) // 5) * 100 + np.arange(n_new) % 5 + 1
    id_venda = np.concatenate([ids[pos], new]).astype(np.int64)
    newest = keys.sk_tempo_by_date[-1]
    sk_tempo = np.concatenate([keys.sk_tempo_by_date[pos], np.full(n_new, newest)])
    qty = rng.integers(1, 51, BATCH_ROWS).astype(np.int64)
    unit = np.round(rng.uniform(900.0, 1000.0, BATCH_ROWS), 2)
    disc = rng.integers(0, 11, BATCH_ROWS) / 100.0
    gross = np.round(qty * unit, 2)
    return {
        "id_venda": id_venda,
        "sk_produto": rng.integers(1, 1001, BATCH_ROWS).astype(np.int64),
        "sk_cliente": rng.integers(1, 1001, BATCH_ROWS).astype(np.int64),
        "sk_vendedor": rng.integers(1, 51, BATCH_ROWS).astype(np.int64),
        "sk_localidade": rng.integers(1, 26, BATCH_ROWS).astype(np.int64),
        "sk_tempo": sk_tempo.astype(np.int64),
        "qtd_vendida": qty,
        "valor_unitario": unit,
        "valor_desconto": np.round(gross * disc, 2),
        "valor_total": np.round(gross * (1 - disc), 2),
    }
