"""Adversarial-input robustness for the from-spec codecs.

A distributed reader meets corrupt bytes (truncated downloads, bit rot,
mislabeled formats) as ordinary data, and a decoder that hangs, loops,
or dies with a non-ValueError inside a Spark task turns one bad file
into an opaque stage failure. Contract pinned here: every decoder
raises ``ValueError`` (or returns a valid result) on arbitrary mangled
input — never KeyError/IndexError/struct.error/infinite loop — so task
code can catch one exception type and quarantine the file.

Hypothesis drives truncation/bit-flip/garbage cases against real
encoder output; numpy errors that indicate a codec bug (not bad input)
are allowed only where noted.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pm25ml_spark.sources.hdf5_min import read_hdf5, write_hdf5
from pm25ml_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

ACCEPTABLE = (ValueError, zlib.error)


def _hdf5_bytes(tmp_path) -> bytes:
    p = str(tmp_path / "r.h5")
    write_hdf5(p, {"d": (np.arange(12.0).reshape(3, 4), {"a": np.int32(1)}, True)})
    with open(p, "rb") as fh:
        return fh.read()


class TestTruncation:
    @settings(max_examples=30, deadline=None)
    @given(frac=st.floats(min_value=0.0, max_value=0.98))
    def test_netcdf3_truncated(self, tmp_path_factory, frac):
        tmp = tmp_path_factory.mktemp("nc")
        p = str(tmp / "t.nc")
        write_netcdf3(
            p,
            dims={"x": 5},
            variables={"v": (("x",), np.arange(5.0), {"u": "m"})},
        )
        with open(p, "rb") as fh:
            data = fh.read()
        cut = p + ".cut"
        with open(cut, "wb") as fh:
            fh.write(data[: int(len(data) * frac)])
        try:
            read_netcdf3(cut)
        except ACCEPTABLE:
            pass


class TestBitFlips:
    @settings(max_examples=25, deadline=None)
    @given(
        pos=st.integers(min_value=8, max_value=100_000),
        bit=st.integers(0, 7),
    )
    def test_hdf5_bitflip(self, tmp_path_factory, pos, bit):
        tmp = tmp_path_factory.mktemp("h5")
        data = bytearray(_hdf5_bytes(tmp))
        data[pos % len(data)] ^= 1 << bit
        p = str(tmp / "m.h5")
        with open(p, "wb") as fh:
            fh.write(bytes(data))
        try:
            f = read_hdf5(p)
            for ds in f.root.datasets.values():
                ds.read()
        except ACCEPTABLE:
            pass


class TestGarbage:
    @settings(max_examples=30, deadline=None)
    @given(data=st.binary(min_size=0, max_size=256))
    def test_all_decoders_reject_garbage(self, data, tmp_path_factory):
        tmp = tmp_path_factory.mktemp("g")
        p = str(tmp / "g.bin")
        with open(p, "wb") as fh:
            fh.write(b"CDF\x02" + data)
        try:
            read_netcdf3(p)
        except ACCEPTABLE:
            pass
        with open(p, "wb") as fh:
            fh.write(b"\x89HDF\r\n\x1a\n" + data)
        try:
            f = read_hdf5(p)
            for ds in f.root.datasets.values():
                ds.read()
        except ACCEPTABLE:
            pass


class TestLyingHeaders:
    def test_hdf5_vl_size_mismatch_raises(self, tmp_path):
        """A VL heap object whose byte size is not a multiple of its
        element count is corrupt: quarantined, not silently truncated."""
        from pm25ml_spark.sources.hdf5_min import H5File

        p = str(tmp_path / "r.h5")
        write_hdf5(
            p, {"d": (np.arange(6.0).reshape(2, 3), {"a": np.int32(1)}, True)}
        )
        f = H5File(p)
        # fabricated global heap: one object, idx=1, size=10 bytes — and a
        # descriptor claiming 3 elements (10 % 3 != 0 → corrupt)
        fake = bytearray(48)
        fake[0:4] = b"GCOL"
        fake[8:16] = (48).to_bytes(8, "little")  # collection size
        q = 16  # gaddr(0) + 8 + lengths_size(8)
        fake[q : q + 2] = (1).to_bytes(2, "little")  # obj idx
        fake[q + 8 : q + 16] = (10).to_bytes(8, "little")  # obj size
        f.buf = bytes(fake)
        desc = (
            (3).to_bytes(4, "little")  # n_elem
            + (0).to_bytes(8, "little")  # gaddr
            + (1).to_bytes(4, "little")  # idx
        )
        with pytest.raises(ValueError, match="not a multiple"):
            f._vl_raw(desc, 0)
