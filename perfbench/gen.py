"""Seeded inputs for the benchmark, and the outputs they must produce.

Everything here is numpy + pyarrow: no Spark and no ``joi_spark``.  A
change to the program can therefore neither alter the input nor the
expectation it is checked against.  The program only ever sees the
parquet files written by :func:`materialize`.

Each generator returns ``(table, expected)``:

- ``table`` is the input as a pyarrow table;
- ``expected`` is a dict holding the expected violation rows (a pyarrow
  table of ``conv_id, turn_idx, code, path, message`` and, for the
  dataset rules, ``seq``) and, for checkpointed runs, the expected
  per-partition manifest rows.

The expected rows follow Joi's rules for the schemas in
``workloads.py``: with ``abort_early=False`` every failing rule of a row
is reported, an empty string fails ``string.empty`` and no other string
rule, a missing required value fails ``any.required`` only, and rule
messages use the reference's English templates.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8
TURNS_PER_CONV = 20
ROLES = np.array(["system", "user", "assistant", "tool"], dtype=object)
TS0_US = 1_735_689_600_000_000          # 2025-01-01T00:00:00Z
CONV_PATTERN = "/^c[0-9]{6,8}$/"
TOOL_NAMES = [f"tool_{i}" for i in range(8)]

_WORDS = ("alpha beta gamma delta epsilon zeta theta kappa lambda sigma "
          "request reply tool search answer context token stream batch "
          "schema table column value partition manifest verdict café "
          "naïve über straße 日本 été").split()

VIOLATION_SCHEMA = pa.schema([("conv_id", pa.string()),
                              ("turn_idx", pa.int64()),
                              ("code", pa.string()),
                              ("path", pa.string()),
                              ("message", pa.string())])


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, workload))])


def _sentences(rng: np.random.Generator, k: int) -> np.ndarray:
    """``k`` pseudo-random sentences of 3-30 words (never empty, never
    padded, far below 8192 characters)."""
    out = np.empty(k, dtype=object)
    lens = rng.integers(3, 31, size=k)
    picks = rng.integers(0, len(_WORDS), size=int(lens.sum()))
    pos = 0
    for i, n in enumerate(lens):
        out[i] = " ".join(_WORDS[j] for j in picks[pos:pos + n])
        pos += n
    return out


def _keys(n_convs: int):
    """Row-aligned conversation keys: (conv index, conv_id, turn_idx)."""
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), TURNS_PER_CONV)
    turn = np.tile(np.arange(TURNS_PER_CONV, dtype=np.int64), n_convs)
    names = np.array([f"c{c:07d}" for c in range(n_convs)], dtype=object)
    return conv, names[conv], turn


def _roles(turn: np.ndarray) -> np.ndarray:
    idx = np.where(turn == 0, 0, np.where(turn % 3 == 1, 1,
                                          np.where(turn % 3 == 2, 2, 3)))
    return ROLES[idx]


def _emails(rng: np.random.Generator, n: int,
            bad_frac: float = 0.0) -> np.ndarray:
    """Addresses; ``bad_frac`` of them lack the "@" and fail
    ``email()``."""
    user = np.array([f"user{k}" for k in range(1000)], dtype=object)
    domain = np.array(["example.com", "mail.example.org",
                       "corp.example.net"], dtype=object)
    at = np.where(rng.random(n) < bad_frac, ".", "@").astype(object)
    return user[rng.integers(0, 1000, size=n)] + at \
        + domain[rng.integers(0, 3, size=n)]


def _violations(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in VIOLATION_SCHEMA]
    return pa.table([pa.array(list(c), type=f.type)
                     for c, f in zip(cols, VIOLATION_SCHEMA)],
                    schema=VIOLATION_SCHEMA)


# -- transcripts ---------------------------------------------------------

TEXT_LIMIT = 8192       # joi.string().max(8192) on the text column


def transcripts(seed: int, n_rows: int, defect_frac: float,
                n_epochs: int = 8, n_long: int = 4,
                min_defects: int = 12) -> tuple[pa.Table, dict]:
    """Multi-epoch transcript table with seeded per-row defects.

    ``defect_frac`` of the rows (at least ``min_defects``) break one to
    three rules, each in a different column.  ``n_long`` of them carry
    an over-long text (the string.max rule); the count is fixed so that
    the input size does not depend on the seed.
    """
    rng = _rng(seed, f"transcripts-{defect_frac}")
    n_convs = n_rows // TURNS_PER_CONV
    n = n_convs * TURNS_PER_CONV
    conv, conv_id, turn = _keys(n_convs)
    epoch = (conv * n_epochs // n_convs).astype(np.int32)
    role = _roles(turn)
    text = _sentences(rng, 4096)[rng.integers(0, 4096, size=n)]
    tool = np.where(role == "tool",
                    np.array(TOOL_NAMES, dtype=object)[conv % 8], None)
    turn_idx = turn.copy()

    n_bad = max(min_defects, int(round(n * defect_frac)))
    bad = np.sort(rng.choice(n, size=n_bad, replace=False))
    # which columns break: 1 column (70%), 2 (25%) or 3 (5%)
    n_cols = rng.choice([1, 2, 3], size=n_bad, p=[0.70, 0.25, 0.05])
    long_rows = set(rng.choice(bad, size=min(n_long, n_bad),
                               replace=False).tolist())
    columns = ["conv_id", "turn_idx", "role", "text", "tool"]
    expected: list[tuple] = []
    n_found: list[int] = []
    for row, k in zip(bad.tolist(), n_cols.tolist()):
        cols = rng.choice(len(columns), size=k, replace=False)
        if row in long_rows and 3 not in cols:
            cols = np.append(cols[:k - 1], 3)
        found = []
        c_id = conv_id[row]
        for ci in sorted(cols.tolist()):
            name = columns[ci]
            if name == "conv_id":
                c_id = f"x{conv[row]:07d}"
                conv_id[row] = c_id
                found.append(("string.pattern.base", name,
                              f'"conv_id" with value "{c_id}" fails to '
                              f"match the required pattern: {CONV_PATTERN}"))
            elif name == "turn_idx":
                turn_idx[row] = -1 - turn[row]
                found.append(("number.min", name,
                              '"turn_idx" must be larger than or equal to 0'))
            elif name == "role":
                if rng.random() < 0.5:
                    role[row] = "moderator"
                    found.append(("any.only", name,
                                  '"role" must be one of [system, user, '
                                  'assistant, tool]'))
                else:
                    role[row] = None
                    found.append(("any.required", name, '"role" is required'))
            elif name == "text":
                if row in long_rows:
                    text[row] = "x" * (TEXT_LIMIT + 1)
                    found.append(("string.max", name,
                                  f'"text" length must be less than or equal '
                                  f"to {TEXT_LIMIT} characters long"))
                else:
                    text[row] = ""
                    found.append(("string.empty", name,
                                  '"text" is not allowed to be empty'))
            else:
                tool[row] = ""
                found.append(("string.empty", name,
                              '"tool" is not allowed to be empty'))
        expected += [(c_id, int(turn_idx[row]), *f) for f in found]
        n_found.append(len(found))

    table = pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(TS0_US + np.arange(n, dtype=np.int64) * 60_000_000,
                       pa.timestamp("us")),
        # not in the transcript schema: read only by the UDF-layer probe
        "user_email": pa.array(_emails(rng, n, 0.01), pa.string()),
        "epoch": pa.array(epoch),
    })
    viol = _violations(expected)
    return table, {"violations": viol,
                   "manifest": _manifest(epoch, bad, n_found)}


def _manifest(epoch: np.ndarray, bad: np.ndarray,
              n_found: list[int]) -> list[dict]:
    """Expected manifest rows: one per epoch; ``n_violations`` counts
    every failing rule of every row, and no rule is a warning."""
    n_viol = np.bincount(epoch[bad], weights=n_found,
                         minlength=epoch.max() + 1).astype(np.int64)
    return [{"epoch": e, "n_rows": int(r), "n_violations": int(v),
             "n_warnings": 0, "pass": bool(v == 0)}
            for e, (r, v) in enumerate(zip(np.bincount(epoch), n_viol))]


# -- wide schema ---------------------------------------------------------

# 87 compiled checks: past the engine's 64-check split
WIDE_STRINGS = 9        # joi.string().min(2).max(24)
WIDE_INTS = 8           # joi.number().integer().min(0).max(10000)
WIDE_FLOATS = 3         # joi.number().min(0).max(1)
NAME_MAX = 8            # joi.string().normalize("NFC").max(8)


def wide(seed: int, n_rows: int, defect_frac: float = 0.02,
         n_epochs: int = 4) -> tuple[pa.Table, dict]:
    """Tens of mixed-type columns: strings, integers, doubles, a
    boolean, an e-mail column and a column normalized to NFC before its
    length rule.  Defective rows break one or two rules."""
    rng = _rng(seed, "wide")
    n_convs = n_rows // TURNS_PER_CONV
    n = n_convs * TURNS_PER_CONV
    conv, conv_id, turn = _keys(n_convs)
    epoch = (conv * n_epochs // n_convs).astype(np.int32)
    words = np.array(_WORDS, dtype=object)
    cols: dict[str, np.ndarray] = {}
    for i in range(WIDE_STRINGS):
        cols[f"s{i:02d}"] = words[rng.integers(0, len(words), size=n)] \
            + np.array(["_" + str(k) for k in range(10)],
                       dtype=object)[rng.integers(0, 10, size=n)]
    for i in range(WIDE_INTS):
        cols[f"n{i:02d}"] = rng.integers(0, 10_001, size=n)
    for i in range(WIDE_FLOATS):
        cols[f"f{i:02d}"] = rng.random(n)
    cols["flag"] = rng.random(n) < 0.5
    cols["email"] = _emails(rng, n)
    # NFD input: "e" + combining acute is two code points, one after NFC
    names = np.array(["ada", "zöe", "renée", "josé",
                      "ééééé", "noël"],
                     dtype=object)
    cols["name_nfc"] = names[rng.integers(0, len(names), size=n)]

    n_bad = max(8, int(round(n * defect_frac)))
    bad = np.sort(rng.choice(n, size=n_bad, replace=False))
    kinds = (["s"] * 3 + ["n"] * 2 + ["f"] * 2 + ["email", "name_nfc"])
    expected: list[tuple] = []
    n_found: list[int] = []
    for row in bad.tolist():
        picked = rng.choice(len(kinds), size=rng.integers(1, 3),
                            replace=False)
        used = set()
        found = []
        for kind in (kinds[k] for k in picked):
            if kind == "s":
                i = int(rng.integers(0, WIDE_STRINGS))
                col = f"s{i:02d}"
                if col in used:
                    continue
                mode = int(rng.integers(0, 3))
                if mode == 0:
                    cols[col][row] = ""
                    found.append(("string.empty", col,
                                  f'"{col}" is not allowed to be empty'))
                elif mode == 1:
                    cols[col][row] = "q"
                    found.append(("string.min", col,
                                  f'"{col}" length must be at least 2 '
                                  "characters long"))
                else:
                    cols[col][row] = "y" * 25
                    found.append(("string.max", col,
                                  f'"{col}" length must be less than or '
                                  "equal to 24 characters long"))
            elif kind in ("n", "f"):
                i = int(rng.integers(0, WIDE_INTS if kind == "n"
                                     else WIDE_FLOATS))
                col = f"{kind}{i:02d}"
                if col in used:
                    continue
                hi = 10000 if kind == "n" else 1
                if rng.random() < 0.5:
                    cols[col][row] = -1 if kind == "n" else -0.5
                    found.append(("number.min", col,
                                  f'"{col}" must be larger than or equal '
                                  "to 0"))
                else:
                    cols[col][row] = hi + 1 if kind == "n" else 1.5
                    found.append(("number.max", col,
                                  f'"{col}" must be less than or equal '
                                  f"to {hi}"))
            elif kind == "email":
                col = "email"
                cols[col][row] = f"user{row}.example.com"
                found.append(("string.email", col,
                              '"email" must be a valid email'))
            else:
                col = "name_nfc"
                cols[col][row] = "z" * (NAME_MAX + 1)
                found.append(("string.max", col,
                              f'"{col}" length must be less than or equal '
                              f"to {NAME_MAX} characters long"))
            used.add(col)
        expected += [(conv_id[row], int(turn[row]), *f) for f in found]
        n_found.append(len(found))

    data = {"conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn.astype(np.int32))}
    for k, v in cols.items():
        data[k] = pa.array(v, pa.string()) if v.dtype == object \
            else pa.array(v)
    data["epoch"] = pa.array(epoch)
    table = pa.table(data)
    return table, {"violations": _violations(expected),
                   "manifest": _manifest(epoch, bad, n_found)}


# -- dataset rules -------------------------------------------------------

DATASET_RULES = {
    # code: (seq, path, message) of validate_dataset's default rules
    "dataset.unique": (1001, "conv_id, turn_idx",
                       '"conv_id, turn_idx" contains a duplicate value'),
    "dataset.sort": (1002, "ts",
                     '"ts" must be sorted in ascending order by turn_idx'),
    "dataset.sparse": (1003, "turn_idx",
                       '"turn_idx" must not be a sparse array item'),
    "dataset.link": (1004, "tool", '"tool" contains an invalid value'),
    "dataset.head": (1005, "conv_id", '"conv_id" contains an invalid value'),
}


def dataset(seed: int, n_rows: int, per_kind: int = 40) -> tuple[pa.Table, dict]:
    """Transcript table whose rows are individually valid but which
    breaks the dataset rules: ``per_kind`` conversations each with a
    duplicated turn, a removed middle turn, a time regression, an
    unknown tool or a removed first turn (every defect in its own
    conversation)."""
    rng = _rng(seed, "dataset")
    n_convs = n_rows // TURNS_PER_CONV
    n = n_convs * TURNS_PER_CONV
    conv, conv_id, turn = _keys(n_convs)
    role = _roles(turn)
    tool = np.where(role == "tool",
                    np.array(TOOL_NAMES, dtype=object)[conv % 8], None)
    ts = TS0_US + np.arange(n, dtype=np.int64) * 60_000_000
    text = _sentences(rng, 1024)[rng.integers(0, 1024, size=n)]
    T = TURNS_PER_CONV
    victims = rng.choice(n_convs, size=5 * per_kind, replace=False)
    dup, gap, sort_, link, head = victims.reshape(5, per_kind)
    expected: list[tuple] = []

    def add(c, t, code):
        seq, path, msg = DATASET_RULES[code]
        expected.append((conv_id[c * T], int(t), code, path, msg, seq))

    drop = []
    dup_rows = []
    for c in dup.tolist():
        t = int(rng.integers(0, T))
        dup_rows.append(c * T + t)
        add(c, t, "dataset.unique")
    for c in gap.tolist():
        t = int(rng.integers(1, T - 1))      # a successor exists
        drop.append(c * T + t)
        add(c, t + 1, "dataset.sparse")
    for c in sort_.tolist():
        t = int(rng.integers(1, T))
        ts[c * T + t] = ts[c * T + t - 1] - 3_600_000_000
        add(c, t, "dataset.sort")
    for c in link.tolist():
        t = int(rng.integers(0, T))
        tool[c * T + t] = "ghost_tool"
        add(c, t, "dataset.link")
    for c in head.tolist():
        drop.append(c * T)
        add(c, 1, "dataset.sparse")          # turn 1 lost its predecessor
        add(c, 1, "dataset.head")
    keep = np.ones(n, dtype=bool)
    keep[drop] = False
    order = np.concatenate([np.nonzero(keep)[0], np.array(dup_rows)])
    order.sort(kind="stable")
    table = pa.table({
        "conv_id": pa.array(conv_id[order], pa.string()),
        "turn_idx": pa.array(turn[order].astype(np.int32)),
        "role": pa.array(role[order], pa.string()),
        "text": pa.array(text[order], pa.string()),
        "tool": pa.array(tool[order], pa.string()),
        "ts": pa.array(ts[order], pa.timestamp("us")),
    })
    viol = _violations([r[:5] for r in expected]).append_column(
        "seq", pa.array([r[5] for r in expected], pa.int32()))
    return table, {"violations": viol}


# -- on-disk cache -------------------------------------------------------

def materialize(cache_root: str, workload: str, seed: int, n_rows: int,
                build) -> tuple[str, dict, float]:
    """Write ``build()``'s table as ``N_FILES`` parquet files under a
    directory keyed by workload, seed, size and this file's content, with
    the expectation beside it.  Returns ``(data_dir, expected, gen_s)``;
    a complete cached copy is reused."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    key = f"{workload}-s{seed}-n{n_rows}-g{version}"
    root = os.path.join(cache_root, key)
    data_dir = os.path.join(root, "data")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(data_dir)
        table, expected = build()
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(table.slice(i * step, step),
                           os.path.join(data_dir, f"part-{i:05d}.parquet"))
        pq.write_table(expected["violations"],
                       os.path.join(root, "expected_violations.parquet"))
        with open(os.path.join(root, "expected.json"), "w") as f:
            json.dump({"n_rows": table.num_rows,
                       "manifest": expected.get("manifest")}, f)
        open(os.path.join(root, "_DONE"), "w").close()
    with open(os.path.join(root, "expected.json")) as f:
        expected = json.load(f)
    expected["violations"] = pq.read_table(
        os.path.join(root, "expected_violations.parquet"))
    return data_dir, expected, time.perf_counter() - t0
