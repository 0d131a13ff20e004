"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, ...)``: the same seed gives
the same bytes.  The program under test only ever sees what these
functions produce (slot files, DataFrames built from the arrays), and the
correctness checks derive the expected answers from the same arrays with
NumPy / hashlib, independently of Spark.

Slot geometry (shared by the generator and the checks):

- The sensor raster is ``RASTER_COLS x RASTER_ROWS`` pixels of ``RES``
  degrees starting at (``LON0``, ``LAT0``); pixel ``(col, row)`` sits at
  ``lon = LON0 + (col + 0.5) * RES``, ``lat = LAT0 + (row + 0.5) * RES``.
- Each payload is one pixel record: a BMP-headed blob whose header
  width/height fields carry ``(col, row)`` so ``decode_bmp`` recovers the
  location, followed by random body bytes (the "image").
- The bbox clip keeps ``BBOX = (west, south, east, north)`` (half-open) and
  the grid is ``GRID_DEG`` degrees, anchored at the bbox's south-west
  corner.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LON0, LAT0, RES = -30.0, -40.0, 0.09
RASTER_COLS, RASTER_ROWS = 1000, 800
# Pixels are drawn from a window a little larger than the bbox, so the
# clip drops a real share of every slot.
COL_RANGE, ROW_RANGE = (400, RASTER_COLS), (200, RASTER_ROWS)
BBOX = (21.0, -12.0, 52.0, 24.0)
GRID_DEG = 0.35

SLOT_ROWS = 20_000
PAYLOAD_BYTES = (1500, 2500)  # uniform length range, header included
REPEAT_FRAC = 0.10  # share of a slot copied byte-for-byte from the previous slot

DOC_ID_STRIDE = 100_000  # doc_id = slot * stride + index


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


class Slot:
    """One generated slot: the payload column plus the arrays the
    expected answers are derived from."""

    def __init__(self, slot: int, col, row, lengths, offsets, data):
        self.slot = slot
        self.col = col
        self.row = row
        self.lengths = lengths
        self.offsets = offsets  # int32, len n + 1
        self.data = data  # uint8 buffer of all payloads back to back

    @property
    def n(self) -> int:
        return len(self.col)

    def payload(self, i: int) -> bytes:
        return self.data[self.offsets[i] : self.offsets[i + 1]].tobytes()

    def md5s(self) -> list[str]:
        return [hashlib.md5(self.payload(i)).hexdigest() for i in range(self.n)]

    def table(self) -> pa.Table:
        payload = pa.BinaryArray.from_buffers(
            pa.binary(),
            self.n,
            [None, pa.py_buffer(self.offsets), pa.py_buffer(self.data)],
        )
        doc_id = self.slot * DOC_ID_STRIDE + np.arange(self.n, dtype=np.int64)
        return pa.table(
            {
                "doc_id": doc_id,
                "slot": np.full(self.n, self.slot, dtype=np.int64),
                "payload": payload,
            }
        )

    def write(self, path: str, row_group_rows: int = 2_500) -> int:
        """Write the slot as an uncompressed parquet file (several row
        groups, so the scan splits across cores); returns its size."""
        pq.write_table(
            self.table(), path, compression="none", row_group_size=row_group_rows
        )
        return os.path.getsize(path)


def make_slot(seed: int, slot: int, prev: Slot | None, n: int = SLOT_ROWS) -> Slot:
    """Slot ``slot``'s payloads.  With ``prev`` given, ``REPEAT_FRAC`` of the
    rows are exact byte copies of random rows of ``prev`` (re-deliveries
    the hash dedup must catch); the rest are fresh pixels."""
    rng = _rng(seed, 1, slot)
    col = rng.integers(*COL_RANGE, size=n, dtype=np.int64)
    row = rng.integers(*ROW_RANGE, size=n, dtype=np.int64)
    lengths = rng.integers(PAYLOAD_BYTES[0], PAYLOAD_BYTES[1] + 1, size=n)
    rep_idx = src_idx = np.empty(0, dtype=np.int64)
    if prev is not None:
        n_rep = int(round(n * REPEAT_FRAC))
        rep_idx = np.sort(rng.choice(n, size=n_rep, replace=False))
        src_idx = rng.choice(prev.n, size=n_rep, replace=False)
        col[rep_idx] = prev.col[src_idx]
        row[rep_idx] = prev.row[src_idx]
        lengths[rep_idx] = prev.lengths[src_idx]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    data = np.frombuffer(rng.bytes(int(offsets[-1])), dtype=np.uint8).copy()
    start = offsets[:-1].astype(np.int64)
    data[start] = ord("B")
    data[start + 1] = ord("M")
    for k in range(4):  # little-endian int32 width / height at offset 18 / 22
        data[start + 18 + k] = (col >> (8 * k)) & 0xFF
        data[start + 22 + k] = (row >> (8 * k)) & 0xFF
    for i, j in zip(rep_idx, src_idx):
        data[offsets[i] : offsets[i + 1]] = prev.data[prev.offsets[j] : prev.offsets[j + 1]]
    return Slot(slot, col, row, lengths, offsets, data)


def grid_cells(col, row):
    """(cell_x, cell_y, keep) for pixels — the bbox clip and grid in the
    exact floating-point order the Spark plan uses."""
    lon = LON0 + (col.astype(np.float64) + 0.5) * RES
    lat = LAT0 + (row.astype(np.float64) + 0.5) * RES
    west, south, east, north = BBOX
    keep = (lon >= west) & (lon < east) & (lat >= south) & (lat < north)
    cx = np.floor((lon - west) / GRID_DEG).astype(np.int64)
    cy = np.floor((lat - south) / GRID_DEG).astype(np.int64)
    return cx, cy, keep


def expected_grid(slot: Slot) -> dict[tuple[int, int], tuple[int, int]]:
    """{(cell_x, cell_y): (n_pixels, sum_bytes)} of one slot."""
    cx, cy, keep = grid_cells(slot.col, slot.row)
    out: dict[tuple[int, int], tuple[int, int]] = {}
    for x, y, nb in zip(cx[keep], cy[keep], slot.lengths[keep]):
        n0, s0 = out.get((int(x), int(y)), (0, 0))
        out[(int(x), int(y))] = (n0 + 1, s0 + int(nb))
    return out


# -- standing tables ------------------------------------------------------

STANDING_SLOTS = 96  # one day of 15-minute slots
STANDING_CELLS = 2_000  # grid cells reported per slot
STANDING_HASHES = 2_000  # new payload hashes admitted per slot
PROBE_ROWS = 5_000  # hashes in one dedup probe batch
PROBE_KNOWN_FRAC = 0.5


def standing_grid(seed: int, slot: int) -> dict[str, np.ndarray]:
    """Grid rows of one standing slot: cells drawn without replacement
    from the bbox grid, with pixel counts and byte sums."""
    rng = _rng(seed, 2, slot)
    n_x = int(round((BBOX[2] - BBOX[0]) / GRID_DEG))
    n_y = int(round((BBOX[3] - BBOX[1]) / GRID_DEG))
    cells = rng.choice(n_x * n_y, size=STANDING_CELLS, replace=False)
    n_px = rng.integers(1, 6, size=STANDING_CELLS, dtype=np.int64)
    return {
        "cell_x": (cells % n_x).astype(np.int64),
        "cell_y": (cells // n_x).astype(np.int64),
        "n_px": n_px,
        "sum_bytes": n_px * rng.integers(PAYLOAD_BYTES[0], PAYLOAD_BYTES[1] + 1, size=STANDING_CELLS),
        "slot": np.full(STANDING_CELLS, slot, dtype=np.int64),
    }


def _hex(words: np.ndarray) -> np.ndarray:
    """128-bit values (two uint64 columns) as 32-char lowercase hex."""
    return np.array([f"{a:016x}{b:016x}" for a, b in words], dtype=object)


def standing_hashes(seed: int, slot: int) -> dict[str, np.ndarray]:
    """Distinct md5-shaped hex strings admitted at ``slot``.  The top
    16 bits carry the slot, so hashes never collide across slots."""
    rng = _rng(seed, 3, slot)
    words = rng.integers(0, 2**63, size=(STANDING_HASHES, 2), dtype=np.uint64)
    words[:, 0] = (words[:, 0] & np.uint64(0x0000FFFFFFFFFFFF)) | (np.uint64(slot) << np.uint64(48))
    words[:, 1] = (words[:, 1] & ~np.uint64(0xFFFF)) | np.arange(STANDING_HASHES, dtype=np.uint64)
    return {
        "md5": _hex(words),
        "slot": np.full(STANDING_HASHES, slot, dtype=np.int64),
    }


def probe_batch(seed: int, k: int, known_slots: int) -> tuple[np.ndarray, int]:
    """The ``k``-th dedup probe: ``PROBE_ROWS`` distinct hashes, half drawn
    from the standing table's first ``known_slots`` slots and half fresh
    (slot tag 0xFFFF, never used by the table).  Returns (hashes, n_known)."""
    rng = _rng(seed, 4, k)
    n_known = int(PROBE_ROWS * PROBE_KNOWN_FRAC)
    flat = rng.choice(known_slots * STANDING_HASHES, size=n_known, replace=False)
    known = []
    for slot in np.unique(flat // STANDING_HASHES):
        rows = flat[flat // STANDING_HASHES == slot] % STANDING_HASHES
        known.append(standing_hashes(seed, int(slot))["md5"][rows])
    words = rng.integers(0, 2**63, size=(PROBE_ROWS - n_known, 2), dtype=np.uint64)
    words[:, 0] = (words[:, 0] & np.uint64(0x0000FFFFFFFFFFFF)) | (np.uint64(0xFFFF) << np.uint64(48))
    words[:, 1] = (words[:, 1] & ~np.uint64(0xFFFF)) | np.arange(len(words), dtype=np.uint64)
    return np.concatenate(known + [_hex(words)]), n_known
