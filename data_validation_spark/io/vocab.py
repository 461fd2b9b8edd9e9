"""Vocabulary loading — utils/vocab_util.py parity.

A vocabulary is a token-per-line text file or a GZIP-compressed TFRecord
file of token records (``*.tfrecord.gz``); ``load_vocab`` returns the
token→index and index→token mappings. ``read_vocab_df`` lands the same file
as a Spark DataFrame for the broadcast vocab join in
``stats/text.vocab_token_stats``.
"""

from __future__ import annotations

import os
from typing import Dict, Tuple


def load_vocab(path: str) -> Tuple[Dict[str, int], Dict[int, str]]:
    """vocab_util.py:22-64 — (vocab, reverse_vocab) from a text or
    ``tfrecord.gz`` file; raises ValueError when the path does not exist."""
    vocab: Dict[str, int] = {}
    reverse_vocab: Dict[int, str] = {}
    if not os.path.exists(path):
        raise ValueError(f"Vocabulary path: {path} does not exist")

    def populate(index: int, entry) -> None:
        if isinstance(entry, bytes):
            entry = entry.decode("utf-8")
        entry = entry.strip()
        vocab[entry] = index
        reverse_vocab[index] = entry

    if path.endswith("tfrecord.gz"):
        from data_validation_spark.io.tfrecord import read_frames

        for index, entry in enumerate(read_frames(path)):
            populate(index, entry)
    else:
        with open(path, "r", encoding="utf-8") as f:
            for index, entry in enumerate(f):
                populate(index, entry)
    return vocab, reverse_vocab


def read_vocab_df(spark, path: str):
    """The vocabulary as a (token string, index int) DataFrame, ready for
    the broadcast join in [[vocab-token-stats]]."""
    from data_validation_spark.util import local_frame

    vocab, _ = load_vocab(path)
    return local_frame(spark, list(vocab.items()), "token string, index int")
