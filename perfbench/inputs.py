"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed`` and returns plain data; sizes are fixed per
workload, so seeds change values, never volumes. The program under test
only ever sees the files and scripts produced here.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_SPAN_US = 30 * 86_400 * 1_000_000


def write_events(
    sf_dir: str, rng: np.random.Generator, n_events: int, n_users: int, signal: bool = False
) -> str:
    """The testdata ``events`` table (same columns, types and value
    shapes as the fixed sf* drops): ``event_id`` dense from 0, ``ts``
    ascending over 30 days, uniform users, exponential values rounded to
    cents, ``props`` a small JSON object.

    Event types are uniform, as in the testdata drops, unless ``signal``:
    then each user has a latent affinity that raises both their share of
    views and clicks and their chance of a purchase, so a propensity
    model trained on the counts has something to learn. With uniform
    types the label is noise and LOGISTIC_REG can predict one constant
    probability for everyone (see README: conversion-value boundaries)."""
    os.makedirs(sf_dir, exist_ok=True)
    ts = np.sort(rng.integers(0, _SPAN_US, n_events)) + _T0_US
    value = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    users = rng.integers(0, n_users, n_events, dtype=np.int64)
    if signal:
        a = rng.random(n_users)[users]
        # weights per event: view, click, signup, purchase, error
        w = np.stack([1 + 2 * a, 1 + a, np.ones_like(a), 0.03 + 0.5 * a * a, np.ones_like(a)], 1)
        cum = np.cumsum(w / w.sum(1, keepdims=True), 1)
        kind = (rng.random(n_events)[:, None] > cum).sum(1)
    else:
        kind = rng.integers(0, len(EVENT_TYPES), n_events)
    types = np.asarray(EVENT_TYPES, dtype=object)[np.minimum(kind, len(EVENT_TYPES) - 1)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(users),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path


# -- bq_script: seeded tables, scripts and their Python model ---------------

SEGMENTS = ("gold", "silver", "bronze")


def script_tables(rng: np.random.Generator, n_accounts: int, n_txns: int) -> dict:
    """The script branches' base tables as column dicts. Transaction accounts
    range past the account ids so MERGE takes both of its arms."""
    accounts = {
        "id": np.arange(n_accounts, dtype=np.int64),
        "seg": np.asarray(SEGMENTS, dtype=object)[rng.integers(0, 3, n_accounts)],
        "bal": np.round(rng.uniform(0.0, 1000.0, n_accounts), 2),
        "n": rng.integers(0, 50, n_accounts, dtype=np.int64),
    }
    txns = {
        "id": np.arange(n_txns, dtype=np.int64),
        "acct": rng.integers(0, n_accounts + n_accounts // 5, n_txns, dtype=np.int64),
        "amt": np.round(rng.uniform(1.0, 400.0, n_txns), 2),
        "kind": np.asarray(("sale", "refund"), dtype=object)[
            (rng.random(n_txns) < 0.3).astype(int)
        ],
    }
    return {"accounts": accounts, "txns": txns}


def script_params(rng: np.random.Generator) -> dict:
    """Seeded constants spliced into the branch scripts."""
    return {
        "min_cnt": int(rng.integers(2, 4)),
        "factor": float(rng.choice([1.05, 1.1, 1.25])),
        "seg": str(rng.choice(SEGMENTS)),
    }


def branch_scripts(base: str, ds: str, tag: str, p: dict) -> list[str]:
    """The chain of scripts one branch runs, one per pipeline job.

    Statement shapes: DECLARE/SET, SELECT-into-variable, TRUNCATE,
    INSERT ... SELECT, CREATE TEMP TABLE, UPDATE, MERGE (both arms),
    DELETE and a summary CREATE OR REPLACE TABLE. Every literal that
    lands in a FLOAT64 column is written as an expression over FLOAT64
    columns, never as a bare decimal literal (see README: the
    ``SELECT 0.0`` DECIMAL(1,1) divergence)."""
    t = f"`{base}.txns`"
    a = f"`{base}.accounts`"
    w = f"`{ds}.work`"
    prep = f"""
DECLARE cutoff FLOAT64;
SET cutoff = (SELECT ROUND(AVG(amt), 2) FROM {t});
TRUNCATE TABLE {w};
INSERT INTO {w} (id, seg, bal, n) SELECT id, seg, bal, n FROM {a};
CREATE TEMP TABLE big_{tag} AS
  SELECT acct, ROUND(SUM(amt), 2) AS total, COUNT(*) AS cnt
  FROM {t} WHERE amt > cutoff GROUP BY acct;
INSERT INTO {w} (id, seg, bal, n)
  SELECT acct + 1000000, 'big', total, cnt FROM big_{tag} WHERE cnt >= {p['min_cnt']};
"""
    apply = f"""
DECLARE refunds INT64;
SET refunds = (SELECT COUNT(*) FROM {t} WHERE kind = 'refund');
UPDATE {w} SET bal = ROUND(bal * {p['factor']}, 2) WHERE seg = '{p['seg']}';
MERGE {w} T USING (
  SELECT acct, ROUND(SUM(amt), 2) AS s FROM {t}
  WHERE kind = 'refund' GROUP BY acct
) S ON T.id = S.acct
WHEN MATCHED THEN UPDATE SET bal = ROUND(T.bal - S.s, 2)
WHEN NOT MATCHED THEN INSERT (id, seg, bal, n) VALUES (S.acct, 'refund', -S.s, 0);
DELETE FROM {w} WHERE bal < 0 AND seg <> 'refund';
CREATE OR REPLACE TABLE `{ds}.summary` AS
  SELECT seg, COUNT(*) AS n_accounts, ROUND(SUM(bal), 2) AS total,
         refunds AS refunds
  FROM {w} GROUP BY seg;
"""
    return [prep, apply]


def _round2(x: float) -> float:
    """Spark's ROUND(double, 2): half-up on the decimal spelling."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def model_branch(tables: dict, p: dict) -> tuple[list[tuple], list[tuple]]:
    """Pure-Python model of ``branch_scripts``: the final ``work`` rows
    and ``summary`` rows, each sorted."""
    acc, tx = tables["accounts"], tables["txns"]
    amts = [float(x) for x in tx["amt"]]
    cutoff = _round2(sum(amts) / len(amts))
    work = {
        int(i): [str(s), float(b), int(n)]
        for i, s, b, n in zip(acc["id"], acc["seg"], acc["bal"], acc["n"])
    }
    big: dict[int, list] = {}
    refund: dict[int, float] = {}
    for acct, amt, kind in zip(tx["acct"], amts, tx["kind"]):
        if amt > cutoff:
            g = big.setdefault(int(acct), [0.0, 0])
            g[0] += amt
            g[1] += 1
        if kind == "refund":
            refund[int(acct)] = refund.get(int(acct), 0.0) + amt
    rows = list(work.items())
    for acct, (total, cnt) in big.items():
        if cnt >= p["min_cnt"]:
            rows.append((acct + 1_000_000, ["big", _round2(total), cnt]))
    work = dict(rows)
    for r in work.values():
        if r[0] == p["seg"]:
            r[1] = _round2(r[1] * p["factor"])
    for acct, s in refund.items():
        s = _round2(s)
        if acct in work:
            work[acct][1] = _round2(work[acct][1] - s)
        else:
            work[acct] = ["refund", -s, 0]
    work = {k: v for k, v in work.items() if not (v[1] < 0 and v[0] != "refund")}
    n_refunds = sum(1 for k in tx["kind"] if k == "refund")
    segs: dict[str, list] = {}
    for seg, bal, _n in work.values():
        g = segs.setdefault(seg, [0, 0.0])
        g[0] += 1
        g[1] += bal
    summary = sorted((s, c, _round2(t), n_refunds) for s, (c, t) in segs.items())
    return sorted((k, *v) for k, v in work.items()), summary
