"""Byte-level tokenizer (P2): token id k (0 <= k <= 255) == byte k.

Trivially invertible, so the binding per-row invariant — token-array
equality on every routed row (BASELINE.json input_hint) — is checkable:
``detokenize(encode(s)) == s`` and the ``tokens`` column passes through
the pipeline untouched.

The pipeline's batch decode is ``engine.decode_tokens_arrow``: one
bytes buffer per Arrow batch, sliced at offsets (C-level
``bytes.decode`` per row).
"""

from __future__ import annotations

VOCAB_SIZE = 256


def encode(text: str) -> list[int]:
    """UTF-8 encode a string into byte-token ids."""
    return list(text.encode("utf-8"))


def decode(tokens) -> str:
    """Invert :func:`encode` for a single row (oracle / tests)."""
    return bytes(bytearray(int(t) & 0xFF for t in tokens)).decode("utf-8", "replace")
