"""The output check must count a corrupted output as a failed iteration.

    python3 -m pytest perfbench/test_check.py -q

Writes what a correct run writes (with pyarrow, no Spark), then
corrupts one thing at a time.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

HASH = "0123456789abcdef"


def _sorted(tb: pa.Table) -> pa.Table:
    return tb.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending"),
                       ("seq", "ascending")])


def write_checkpoint(root: str, table: pa.Table, expected: dict) -> None:
    """The layout ``CheckpointedRun.run`` writes for a correct run."""
    viol = expected["violations"]
    keys = table.select(["conv_id", "turn_idx", "epoch"]).cast(
        pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int64()),
                   ("epoch", pa.int32())]))
    viol = viol.join(keys, ["conv_id", "turn_idx"])
    seq = pa.array(range(viol.num_rows), pa.int32())
    viol = viol.append_column("seq", seq).append_column(
        "severity", pa.array(["error"] * viol.num_rows))
    for e in sorted(set(viol.column("epoch").to_pylist())):
        d = os.path.join(root, "violations", f"constraint_hash={HASH}",
                         f"epoch={e}")
        os.makedirs(d)
        part = _sorted(viol.filter(pc.equal(viol.column("epoch"), e)))
        pq.write_table(part.drop_columns(["epoch"]),
                       os.path.join(d, "part-00000.parquet"))
    man = pa.Table.from_pylist([{**m, "constraint_hash": HASH,
                                 "engine_version": "0.1.0"}
                                for m in expected["manifest"]])
    os.makedirs(os.path.join(root, "manifest"))
    pq.write_table(man, os.path.join(root, "manifest", "part-00000.parquet"))


@pytest.fixture
def transcripts(tmp_path):
    table, expected = gen.transcripts(seed=7, n_rows=4000, defect_frac=0.05,
                                      n_epochs=4, n_long=2)
    root = str(tmp_path / "run")
    write_checkpoint(root, table, expected)
    return root, expected


def _one_epoch_file(root: str) -> str:
    d = os.path.join(root, "violations", f"constraint_hash={HASH}")
    epoch = sorted(os.listdir(d))[0]
    return os.path.join(d, epoch, "part-00000.parquet")


def _rewrite(path: str, fn) -> None:
    pq.write_table(fn(pq.read_table(path)), path)


def test_correct_output_passes(transcripts):
    root, expected = transcripts
    assert expected["violations"].num_rows > 100
    assert check.checkpoint_run(root, expected) == []


@pytest.mark.parametrize("corrupt", [
    lambda tb: tb.slice(1),                                  # row lost
    lambda tb: tb.set_column(                                # message changed
        tb.schema.get_field_index("message"), "message",
        pa.array(["x"] + tb.column("message").to_pylist()[1:])),
    lambda tb: tb.take(list(range(tb.num_rows))[::-1]),      # order broken
    lambda tb: pa.concat_tables([tb, tb.slice(0, 1)]),       # row duplicated
])
def test_corrupted_violations_fail(transcripts, corrupt):
    root, expected = transcripts
    _rewrite(_one_epoch_file(root), corrupt)
    assert check.checkpoint_run(root, expected)


@pytest.mark.parametrize("corrupt", [
    lambda rows: [{**rows[0], "n_violations": rows[0]["n_violations"] + 1},
                  *rows[1:]],
    lambda rows: [{**rows[0], "pass": not rows[0]["pass"]}, *rows[1:]],
    lambda rows: [{**rows[0], "n_rows": rows[0]["n_rows"] - 1}, *rows[1:]],
    lambda rows: rows[1:],
    lambda rows: [{**rows[0], "constraint_hash": "ffffffffffffffff"},
                  *rows[1:]],
])
def test_corrupted_manifest_fails(transcripts, corrupt):
    root, expected = transcripts
    _rewrite(os.path.join(root, "manifest", "part-00000.parquet"),
             lambda tb: pa.Table.from_pylist(corrupt(tb.to_pylist())))
    assert check.checkpoint_run(root, expected)


def test_missing_manifest_fails(transcripts):
    root, expected = transcripts
    os.remove(os.path.join(root, "manifest", "part-00000.parquet"))
    assert check.checkpoint_run(root, expected)


def test_dataset_check(tmp_path):
    table, expected = gen.dataset(seed=3, n_rows=2000, per_kind=4)
    viol = expected["violations"]
    assert set(viol.column("code").to_pylist()) == set(gen.DATASET_RULES)
    out = tmp_path / "violations"
    out.mkdir()
    good = _sorted(viol.append_column(
        "severity", pa.array(["error"] * viol.num_rows)))
    pq.write_table(good, out / "part-00000.parquet")
    assert check.dataset_run(str(out), expected) == []
    pq.write_table(good.slice(1), out / "part-00000.parquet")
    assert check.dataset_run(str(out), expected)


class _Workload:
    check = staticmethod(check.checkpoint_run)


def test_bench_counts_a_corrupted_output_as_failed(transcripts):
    """``Bench.verify`` is what every timed iteration goes through."""
    root, expected = transcripts
    b = run.Bench(_Workload(), seed=7, cores=1)
    b.expected = expected
    _rewrite(_one_epoch_file(root), lambda tb: tb.slice(1))
    assert not b.verify(root)
    assert (b.attempted, b.failed) == (1, 1)
    assert not os.path.exists(root)          # outputs are deleted either way
