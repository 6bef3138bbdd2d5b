"""Selector decision tests pinned on the FIXTURES.md §F2 distributions."""

import numpy as np
import pyarrow as pa
import pytest

from parzig_spark.codecs import decode_column, encode_column
from parzig_spark.selector import choose_codec, column_stats

RNG = np.random.default_rng(7)

CASES = {
    # case -> (array, acceptable codecs)
    "const_string_1000": (pa.array(["deadbeefdeadbeefdeadbeefdeadbeefdead"] * 1000), {"dict"}),
    "const_int64_1000": (pa.array([0] * 1000, pa.int64()), {"rle"}),
    "lowcard_string": (
        pa.array(RNG.choice(["python", "zig", "rust", "go", "java", "c", "md", "json"], 5000).tolist()),
        {"dict"},
    ),
    "ascending_int64": (
        pa.array((np.arange(20000) * 7 + RNG.integers(0, 3, 20000)).astype(np.int64)),
        {"delta"},
    ),
    "narrow_range_int": (
        pa.array(RNG.integers(1000, 1128, 20000).astype(np.int64)),
        {"for", "bitpack", "dict", "rle"},
    ),
    "prefix_strings": (
        pa.array([f"apple_banana_mango{i*i}" for i in range(2000)]),
        {"fsst", "delta_length", "delta_byte"},
    ),
    "high_entropy_bytes": (
        pa.array([RNG.bytes(24).hex() for _ in range(2000)]),
        {"delta_length", "fsst"},  # selector must NOT pick dict
    ),
    # long width-1 runs: RLE strictly beats the 1-bit/value packed floor
    # (short runs of ~40 are a three-way tie with bitpack/for — not pinned)
    "bool_runs": (pa.array(([True] * 400 + [False] * 250) * 20), {"rle"}),
    "embedding_lists": (
        pa.array([RNG.normal(size=16).astype(np.float32) for _ in range(200)], pa.list_(pa.float32())),
        {"list"},
    ),
}


@pytest.mark.parametrize("name", list(CASES))
def test_selected_codec(name):
    arr, acceptable = CASES[name]
    codec, lineage = choose_codec(arr)
    assert codec in acceptable, f"{name}: chose {codec}, expected one of {acceptable} (lineage {lineage['trials']})"
    # And the choice must round-trip.
    blob, meta = encode_column(arr, codec)
    assert decode_column(blob, meta).cast(arr.type).equals(arr)


def test_selected_beats_plain_on_compressible():
    for name in ("const_string_1000", "lowcard_string", "ascending_int64", "bool_runs"):
        arr, _ = CASES[name]
        codec, _ = choose_codec(arr)
        chosen, _ = encode_column(arr, codec, outer=None)
        plain, _ = encode_column(arr, "plain", outer=None)
        assert len(chosen) < len(plain), f"{name}: {codec} {len(chosen)} !< plain {len(plain)}"


def test_stats_with_nulls_and_empty():
    arr = pa.array([1, None, 1, None, 2], pa.int64())
    s = column_stats(arr)
    assert s["null_frac"] == pytest.approx(0.4)
    assert column_stats(pa.array([], pa.int64()))["n"] == 0
    codec, _ = choose_codec(pa.array([], pa.string()))
    assert codec == "plain"


def test_stats_deterministic():
    arr = CASES["lowcard_string"][0]
    assert column_stats(arr) == column_stats(arr)
    assert choose_codec(arr)[0] == choose_codec(arr)[0]


def test_corpus_codecs_pinned():
    """The seed-7 ``corpus_roundtrip`` input (perfbench rows 28,005-32,004
    of the source-code corpus): the codec of every column."""
    from parzig_spark.sources.source_code import _gen_batch

    table = pa.Table.from_pandas(_gen_batch(np.arange(28005, 32005), 0.4), preserve_index=False)
    chosen = {c: choose_codec(table.column(c))[0] for c in table.column_names}
    assert chosen == {
        "repo": "dict", "lang": "dict",
        "path": "delta_length", "commit": "delta_length", "content": "delta_length",
    }


def test_fsst_trial_skipped_below_its_floor(monkeypatch):
    """Eight long low-entropy strings: FSST is a candidate, but its size
    floor (one code byte per 8 input bytes, ~63 KB) is far above dict's
    whole size, so FSST is never trialled."""
    from parzig_spark.codecs import fsst

    calls = []
    real = fsst.compress

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    words = [(w * 100)[:250] for w in ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")]
    arr = pa.array(np.random.default_rng(7).choice(words, 2000).tolist())
    monkeypatch.setattr(fsst, "compress", counted)
    codec, lineage = choose_codec(arr)
    assert codec == "dict"
    assert "fsst" not in lineage["trials"]
    assert calls == []
