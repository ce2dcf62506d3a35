"""Columnar word boxes: the one container of the per-page kernel.

Every page operator from the tokenizer to ``layout.column_texts``
takes a :class:`Words` and, where it keeps a subset, returns one. A
Words is a struct of NumPy columns, one entry per word:

- ``words["x0"]`` is the column itself, a plain ndarray
- ``take(mask_or_positions)`` keeps the words a boolean mask or an
  array of positions selects
- ``drop(positions)`` removes words by position

Positions are always ``0 .. len - 1``, and every subset numbers its
words afresh. An operator that consumes words (sidebars, footnote
definitions) returns their positions as an intp array, taken in the
Words it was given, and the caller drops them from that same Words.
A subset costs one fancy-index per column.
"""

from __future__ import annotations

import numpy as np

WORD_COLUMNS = ["text", "x0", "x1", "top", "bottom", "size", "page"]


class Words:
    """Word boxes of one page: ``text`` (object), ``x0 x1 top bottom
    size`` (float64), ``page`` (int64)."""

    __slots__ = ("text", "x0", "x1", "top", "bottom", "size", "page")

    def __init__(
        self,
        text: np.ndarray,
        x0: np.ndarray,
        x1: np.ndarray,
        top: np.ndarray,
        bottom: np.ndarray,
        size: np.ndarray,
        page: np.ndarray,
    ) -> None:
        self.text = text
        self.x0 = x0
        self.x1 = x1
        self.top = top
        self.bottom = bottom
        self.size = size
        self.page = page

    def __len__(self) -> int:
        return len(self.text)

    def __getitem__(self, col: str) -> np.ndarray:
        return getattr(self, col)

    def take(self, idx: np.ndarray) -> "Words":
        """The words a boolean mask or a position array selects, in
        the order it selects them."""
        return Words(
            self.text[idx], self.x0[idx], self.x1[idx], self.top[idx],
            self.bottom[idx], self.size[idx], self.page[idx],
        )

    def drop(self, positions: np.ndarray) -> "Words":
        """The words not at ``positions``, in their order."""
        keep = np.ones(len(self.text), dtype=bool)
        keep[positions] = False
        return self.take(keep)

    def equals(self, other: "Words") -> bool:
        if not isinstance(other, Words) or len(self) != len(other):
            return False
        return all(
            np.array_equal(getattr(self, c), getattr(other, c))
            for c in WORD_COLUMNS
        )

    @classmethod
    def from_frame(cls, df) -> "Words":
        """From a table with the ``WORD_COLUMNS`` (a pandas DataFrame
        in tests)."""
        return cls(
            text=df["text"].to_numpy(),
            x0=df["x0"].to_numpy(dtype=float),
            x1=df["x1"].to_numpy(dtype=float),
            top=df["top"].to_numpy(dtype=float),
            bottom=df["bottom"].to_numpy(dtype=float),
            size=df["size"].to_numpy(dtype=float),
            page=df["page"].to_numpy(),
        )


def empty_words() -> Words:
    return Words(
        text=np.empty(0, dtype=object),
        x0=np.empty(0, dtype=float),
        x1=np.empty(0, dtype=float),
        top=np.empty(0, dtype=float),
        bottom=np.empty(0, dtype=float),
        size=np.empty(0, dtype=float),
        page=np.empty(0, dtype=np.int64),
    )
