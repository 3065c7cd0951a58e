"""Generated inputs are a pure function of the seed."""

import hashlib
import os

import inputs


def _digest_dir(d: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        if f.startswith((".", "_")) or f.endswith(".crc"):
            continue
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_delta_same_seed_same_bytes_other_seed_differs():
    a = inputs.flat_delta(7, 3, 1000, 500, 50, 40)
    assert a == inputs.flat_delta(7, 3, 1000, 500, 50, 40)
    assert a != inputs.flat_delta(8, 3, 1000, 500, 50, 40)
    # offsets continue from first_seq, one per line
    assert [int(x.split("\t", 1)[0]) for x in a] == list(range(1000, 1000 + len(a)))


def test_nested_same_seed_same_bytes_other_seed_differs():
    a = inputs.nested_batches(7, 2, 200)
    assert a == inputs.nested_batches(7, 2, 200)
    assert a != inputs.nested_batches(8, 2, 200)
    seqs = [int(x.split("\t", 1)[0]) for b in a for x in b]
    assert seqs == list(range(len(seqs)))
    assert '"ACTIVE_STREAMS"' in a[-1][-1]


def test_ops_tables_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = inputs.write_ops_tables(str(tmp_path / "a"), 7, 300, 200)
    b = inputs.write_ops_tables(str(tmp_path / "b"), 7, 300, 200)
    c = inputs.write_ops_tables(str(tmp_path / "c"), 8, 300, 200)
    assert _digest_dir(a) == _digest_dir(b)
    assert _digest_dir(a) != _digest_dir(c)


def test_flat_log_same_seed_same_bytes_other_seed_differs(spark, tmp_path):
    def log(name, seed):
        return inputs.flat_log(spark, str(tmp_path / name), 3000, 2, seed, 20, 30)

    a, b, c = log("a", 7), log("b", 7), log("c", 8)
    assert _digest_dir(a) == _digest_dir(b)
    assert _digest_dir(a) != _digest_dir(c)
