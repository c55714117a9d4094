"""Output checks, made with pyarrow alone (no Spark, no ``joi_spark``).

Each function compares what an iteration wrote with what the generator
says it must write, and returns a list of problems; an empty list means
the output is correct.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _read(files: list[str]) -> pa.Table | None:
    tables = [pq.read_table(f) for f in files]
    return pa.concat_tables(tables) if tables else None


def _unordered(table: pa.Table) -> int:
    """Number of adjacent row pairs out of (conv_id, turn_idx, seq)
    order.  The files of one directory are read in name order, which is
    the order of the tasks that wrote them."""
    if table.num_rows < 2:
        return 0
    c = np.array(table.column("conv_id").fill_null("").to_pylist(),
                 dtype=object)
    t = table.column("turn_idx").fill_null(-2**31).to_numpy()
    s = table.column("seq").fill_null(-2**31).to_numpy()
    lt_c, eq_c = c[:-1] < c[1:], c[:-1] == c[1:]
    lt_t, eq_t = t[:-1] < t[1:], t[:-1] == t[1:]
    ok = lt_c | (eq_c & (lt_t | (eq_t & (s[:-1] <= s[1:]))))
    return int((~ok).sum())


def _same_rows(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Compare two violation tables as multisets over ``expected``'s
    columns; on a mismatch, report the per-code counts."""
    cols = expected.column_names
    try:
        actual = actual.select(cols).cast(expected.schema)
    except (KeyError, pa.ArrowException) as e:
        return [f"violations have the wrong columns or types: {e}"]
    order = [(c, "ascending") for c in cols]
    if actual.sort_by(order).equals(expected.sort_by(order)):
        return []

    def counts(tb):
        vc = tb.column("code").value_counts().to_pylist()
        return {d["values"]: d["counts"] for d in vc}
    got, want = counts(actual), counts(expected)
    if got == want:
        return ["violation rows differ (same count per code)"]
    return [f"violation count per code: got {got}, expected {want}"]


def checkpoint_run(root: str, expected: dict) -> list[str]:
    """Check a ``CheckpointedRun`` root: the violations written under
    ``violations/constraint_hash=*/epoch=*`` and the manifest rows."""
    problems = []
    hashes = sorted(glob.glob(os.path.join(root, "violations",
                                           "constraint_hash=*")))
    if len(hashes) != 1:
        return [f"expected one constraint_hash directory, "
                f"found {len(hashes)}"]
    chash = hashes[0].rsplit("=", 1)[1]
    parts, per_epoch = [], {}
    for d in sorted(glob.glob(os.path.join(hashes[0], "epoch=*"))):
        tb = _read(sorted(glob.glob(os.path.join(d, "*.parquet"))))
        if tb is None:
            continue
        epoch = int(d.rsplit("=", 1)[1])
        per_epoch[epoch] = tb.num_rows
        if bad := _unordered(tb):
            problems.append(f"epoch {epoch}: {bad} violation rows out of "
                            "(conv_id, turn_idx, seq) order")
        if set(tb.column("severity").to_pylist()) - {"error"}:
            problems.append(f"epoch {epoch}: severity other than error")
        parts.append(tb.drop_columns(["seq", "severity"]))
    viol = expected["violations"]
    actual = pa.concat_tables(parts) if parts else viol.slice(0, 0)
    problems += _same_rows(actual, viol)

    man = _read(sorted(glob.glob(os.path.join(root, "manifest",
                                              "*.parquet"))))
    if man is None:
        return problems + ["no manifest written"]
    rows = sorted(man.to_pylist(), key=lambda r: r["epoch"])
    want = expected["manifest"]
    if len(rows) != len(want):
        return problems + [f"manifest has {len(rows)} rows, "
                           f"expected {len(want)}"]
    for got, exp in zip(rows, want):
        for k, v in exp.items():
            if got.get(k) != v:
                problems.append(f"manifest epoch {exp['epoch']}: {k}="
                                f"{got.get(k)!r}, expected {v!r}")
        if got.get("constraint_hash") != chash:
            problems.append(f"manifest epoch {exp['epoch']}: constraint_hash "
                            f"{got.get('constraint_hash')!r} is not the "
                            f"violations' {chash!r}")
        if per_epoch.get(exp["epoch"], 0) != exp["n_violations"]:
            problems.append(f"epoch {exp['epoch']}: "
                            f"{per_epoch.get(exp['epoch'], 0)} violation rows "
                            f"for n_violations={exp['n_violations']}")
    return problems


def dataset_run(out_dir: str, expected: dict) -> list[str]:
    """Check the written ``validate_dataset`` output: one sorted table of
    dataset-rule violations."""
    tb = _read(sorted(glob.glob(os.path.join(out_dir, "*.parquet"))))
    viol = expected["violations"]
    if tb is None:
        return ["no dataset violations written"] if viol.num_rows else []
    problems = []
    if bad := _unordered(tb):
        problems.append(f"{bad} violation rows out of "
                        "(conv_id, turn_idx, seq) order")
    if set(tb.column("severity").to_pylist()) - {"error"}:
        problems.append("severity other than error")
    return problems + _same_rows(tb, viol)
