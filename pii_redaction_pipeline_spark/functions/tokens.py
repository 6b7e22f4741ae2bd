"""One whitespace tokenization of an Arrow string batch, shared by the
langid and scrub kernels.

split_batch splits every row with pyarrow's utf8_split_whitespace and
dictionary-encodes the flattened tokens, so a kernel does its Python work
once per distinct token of the batch (a 16,384-row datagen batch holds
about 459k tokens but only 244 distinct ones) and its per-token work as
numpy gathers over the token ids.

utf8_split_whitespace splits on the same code points as str.split(),
every Unicode whitespace and \\x1c-\\x1f among them (ascii_split_whitespace
does not split on those), and collapses runs of them. It differs in one
way: a row that starts or ends with whitespace, or is empty, yields ""
tokens at those ends, which split_batch drops. It also reads one code
point past the end of a row that ends in whitespace, which split_batch
makes safe (see there). tests/test_langid_batch.py and
tests/test_scrub_batch.py pin both kernels to core's str.split()
oracles on such rows.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


class Tokens(NamedTuple):
    # row r's tokens are dictionary[ids[offsets[r]:offsets[r + 1]]]
    offsets: np.ndarray    # int64, one more than the rows
    ids: np.ndarray        # index into `dictionary` per token
    dictionary: pa.Array   # the batch's distinct tokens
    vocab: list[str]       # `dictionary` as Python strings


def split_batch(texts) -> Tokens:
    """str.split() of every row of `texts` (a pa.Array, a pandas Series
    or a list; None splits like "")."""
    if not isinstance(texts, pa.Array):
        texts = pa.array(texts, pa.string())
    # pyarrow 16's utf8_split_whitespace decodes the code point after a
    # row's trailing whitespace, one past the row's end. After the last
    # row that is buffer padding: when it is not valid UTF-8 the row's
    # last separator is missed, and "a " splits into ["a "]. A sentinel
    # row puts a valid byte there; after any other row, the next row's
    # first byte already is one.
    texts = pc.fill_null(texts, "")
    lists = pc.utf8_split_whitespace(
        pa.concat_arrays([texts, pa.array(["x"], texts.type)]))[:-1]
    enc = pc.list_flatten(lists).dictionary_encode()
    ids = enc.indices.to_numpy()
    lens = pc.list_value_length(lists).to_numpy().astype(np.int64)
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    empty = pc.index(enc.dictionary, "").as_py()
    if empty >= 0:
        drop = np.flatnonzero(ids == empty)
        rows = np.searchsorted(offsets, drop, side="right") - 1
        lens -= np.bincount(rows, minlength=len(lens))
        np.cumsum(lens, out=offsets[1:])
        ids = np.delete(ids, drop)
    # to_numpy().tolist() builds the same str objects as to_pylist(),
    # without a pyarrow scalar per entry (15x faster on 229 tokens)
    vocab = enc.dictionary.to_numpy(zero_copy_only=False).tolist()
    return Tokens(offsets, ids, enc.dictionary, vocab)
