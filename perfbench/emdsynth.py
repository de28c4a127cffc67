"""Seeded Velox-layout `.emd` (HDF5) synthesizer for the benchmark.

Writes the HDF5 subset the engine's reader walks -- superblock v0, version-1
object headers, symbol-table groups (v1 B-tree + SNOD + local heap) and
contiguous datasets -- in the Velox shape `/Data/<kind>/<uid>/{Data,Metadata}`:

* a hyperspectral file holds a 2-D HAADF image (`Image`, stored (X, Y, 1))
  and a uint16 spectrum cube (`SpectrumImage`, (X, Y, S)), each with its
  NUL-padded uint8 JSON metadata;
* a spatiotemporal file holds one uint16 video (`Image`, (T, X, Y)).

Everything is a function of the seed, so the same seed gives byte-identical
files. `synthesize` also returns each file's size, sha256 and the sums the
output checks need.
"""
import hashlib
import json
import os
import struct
import zlib

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF


def _pad8(n):
    return (n + 7) // 8 * 8


class _Writer:
    """Appends HDF5 structures to one buffer; offsets are file addresses."""

    def __init__(self):
        self.buf = bytearray(96)  # superblock v0, filled in by finish()

    def _put(self, b):
        addr = len(self.buf)
        self.buf += b
        return addr

    def _object_header(self, msgs):
        body = b"".join(
            struct.pack("<HHB3x", typ, _pad8(len(m)), 0) + m + bytes(_pad8(len(m)) - len(m))
            for typ, m in msgs)
        return self._put(struct.pack("<BBHII4x", 1, 0, len(msgs), 1, len(body)) + body)

    def dataset(self, dims, dtype, raw):
        """Contiguous dataset of unsigned fixed-point elements, row-major."""
        size = np.dtype(dtype).itemsize
        data_addr = self._put(raw)
        space = struct.pack("<BBB5x", 1, len(dims), 0) + b"".join(struct.pack("<Q", d) for d in dims)
        dtype_msg = struct.pack("<B3sIHH", 0x10, bytes(3), size, 0, size * 8)
        layout = struct.pack("<BBQQ", 3, 1, data_addr, len(raw))
        return self._object_header([(0x0001, space), (0x0003, dtype_msg), (0x0008, layout)])

    def group(self, children):
        """Old-style group: local heap of names, one SNOD leaf, one B-tree node."""
        children = sorted(children)
        heap = bytearray(b"\0")
        offsets = []
        for name, _ in children:
            offsets.append(len(heap))
            heap += name.encode() + b"\0"
        heap += bytes(_pad8(len(heap)) - len(heap))
        heap_data = self._put(bytes(heap))
        heap_addr = self._put(b"HEAP" + struct.pack("<B3xQQQ", 0, len(heap), UNDEF, heap_data))
        snod = b"SNOD" + struct.pack("<BxH", 1, len(children)) + b"".join(
            struct.pack("<QQII16x", off, addr, 0, 0) for off, (_, addr) in zip(offsets, children))
        snod_addr = self._put(snod)
        btree_addr = self._put(b"TREE" + struct.pack(
            "<BBHQQQQQ", 0, 0, 1, UNDEF, UNDEF, offsets[0] if offsets else 0, snod_addr,
            offsets[-1] if offsets else 0))
        return self._object_header([(0x0011, struct.pack("<QQ", btree_addr, heap_addr))])

    def finish(self, root):
        eof = len(self.buf)
        sb = (b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, 4, 16, 0)
              + struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
              + struct.pack("<QQII16x", 0, root, 0, 0))
        assert len(sb) == 96
        self.buf[0:96] = sb
        return bytes(self.buf)


def emd_bytes(signals):
    """signals: [(kind, uid, dims, uint16 ndarray, metadata dict)] -> file bytes."""
    w = _Writer()
    kinds = {}
    for kind, uid, dims, arr, meta in signals:
        data = w.dataset(dims, np.uint16, arr.astype("<u2").tobytes())
        text = json.dumps(meta, sort_keys=True).encode() + b"\0\0"
        md = w.dataset([len(text)], np.uint8, text)
        kinds.setdefault(kind, []).append((uid, w.group([("Data", data), ("Metadata", md)])))
    kind_groups = [(k, w.group(members)) for k, members in sorted(kinds.items())]
    return w.finish(w.group([("Data", w.group(kind_groups))]))


def _meta(rng, signal_type, title):
    return {
        "General": {"title": title, "date": "2026-%02d-%02d" % (rng.integers(1, 13), rng.integers(1, 29))},
        "Signal": {"signal_type": signal_type},
        "Sample": {"elements": sorted(rng.choice(["Au", "Cu", "Fe", "Ni", "Si", "Ti"], 2, replace=False).tolist())},
    }


def hyperspectral(rng, x, y, s, name):
    """Sparse counts (Poisson, mean 0.5) plus a few seeded emission lines."""
    lam = np.full(s, 0.5)
    for c in rng.integers(0, s, size=4):
        lam[c] += 4.0
    cube = rng.poisson(lam, size=(x, y, s)).astype(np.uint16)
    haadf = rng.integers(0, 4096, size=(x, y, 1), dtype=np.uint16)
    data = emd_bytes([
        ("Image", "0a", [x, y, 1], haadf, _meta(rng, "", name + " HAADF")),
        ("SpectrumImage", "0b", [x, y, s], cube, _meta(rng, "EDS_TEM", name)),
    ])
    return data, {"cube_sum": int(cube.sum(dtype=np.int64)), "shape": [x, y, s]}


def spatiotemporal(rng, t, x, y, name):
    """A drifting bright blob over seeded noise, one uint16 (T, X, Y) cube."""
    noise = rng.integers(0, 400, size=(t, x, y), dtype=np.uint16)
    cx, cy = rng.integers(0, x), rng.integers(0, y)
    xs, ys = np.arange(x)[:, None], np.arange(y)[None, :]
    video = noise.astype(np.uint32)
    for f in range(t):
        d2 = (xs - (cx + f) % x) ** 2 + (ys - cy) ** 2
        video[f] += (3000 * np.exp(-d2 / 18.0)).astype(np.uint32)
    video = np.minimum(video, 65535).astype(np.uint16)
    data = emd_bytes([("Image", "0a", [t, x, y], video, _meta(rng, "", name))])
    return data, {"shape": [t, x, y]}


def synthesize(kind, seed, count, dims, out_dir, prefix):
    """Write `count` files of `kind` into out_dir; return their manifest rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for i in range(count):
        rng = np.random.default_rng([seed, i, zlib.crc32(prefix.encode())])
        name = "%s_%08d_%03d" % (prefix, seed, i)  # fixed width: sizes do not depend on the seed
        make = hyperspectral if kind == "hyperspectral" else spatiotemporal
        data, extra = make(rng, *dims, name)
        path = os.path.join(out_dir, name + ".emd")
        with open(path, "wb") as f:
            f.write(data)
        rows.append(dict(extra, id=name, path=path, bytes=len(data),
                         sha256=hashlib.sha256(data).hexdigest()))
    return rows
