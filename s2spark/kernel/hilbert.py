"""Hilbert-curve lookup tables for S2 cell-id encoding.

The S2 curve maps (face, i, j) cell coordinates to a position along a
space-filling curve.  The source table consumes 4 bits of i and 4 bits of
j per round through 1024 entries ("iiiijjjjoo" -> "ppppppppoo"); decoding
uses the inverted table.  The numpy encode composes the source table with
itself into 2^18 entries that consume 8 bits of i and j per round.
Semantics follow the public S2 geometry spec
(reference: /root/reference/S2Geometry/S2CellId.cs:76-82,1109-1132 and
/root/reference/S2Geometry/S2.cs:47-95) but are rebuilt here from the
published traversal tables, vectorized for numpy.
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

# Orientation adjustment per Hilbert traversal position (S2.cs:47-48).
POS_TO_ORIENTATION = (SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK)

# orientation x traversal-position -> ij index (0->(0,0) 1->(0,1) 2->(1,0) 3->(1,1)).
POS_TO_IJ = (
    (0, 1, 3, 2),  # canonical
    (0, 2, 3, 1),  # axes swapped
    (3, 2, 0, 1),  # bits inverted
    (3, 1, 0, 2),  # swapped & inverted
)

# orientation x ij index -> traversal position (inverse of POS_TO_IJ).
IJ_TO_POS = (
    (0, 1, 3, 2),
    (0, 3, 1, 2),
    (2, 3, 1, 0),
    (2, 1, 3, 0),
)


def _build_tables() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)

    def init(level: int, i: int, j: int, orig_orientation: int, pos: int, orientation: int) -> None:
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        for sub_pos in range(4):
            ij = POS_TO_IJ[orientation][sub_pos]
            init(level, i + (ij >> 1), j + (ij & 1), orig_orientation,
                 pos + sub_pos, orientation ^ POS_TO_ORIENTATION[sub_pos])

    init(0, 0, 0, 0, 0, 0)
    init(0, 0, 0, SWAP_MASK, 0, SWAP_MASK)
    init(0, 0, 0, INVERT_MASK, 0, INVERT_MASK)
    init(0, 0, 0, SWAP_MASK | INVERT_MASK, 0, SWAP_MASK | INVERT_MASK)
    lookup_pos.setflags(write=False)
    lookup_ij.setflags(write=False)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _build_tables()


def _compose_pos8(lookup_pos: np.ndarray) -> np.ndarray:
    """8-bit encode table: "iiiiiiiijjjjjjjjoo" -> "ppppppppppppppppoo".

    Entry k is two LOOKUP_POS rounds, high nibbles of i and j first, the
    second round starting from the first round's orientation.  Built in
    int32 (2^18 entries, values below 2^18)."""
    lut = lookup_pos.astype(np.int32)
    k = np.arange(1 << 18, dtype=np.int32)
    hi = lut[(((k >> 14) & 15) << 6) | (((k >> 6) & 15) << 2) | (k & 3)]
    lo = lut[(((k >> 10) & 15) << 6) | (((k >> 2) & 15) << 2) | (hi & 3)]
    table = ((hi >> 2) << 10) | lo
    table.setflags(write=False)
    return table


LOOKUP_POS8 = _compose_pos8(LOOKUP_POS)
