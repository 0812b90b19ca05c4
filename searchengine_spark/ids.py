"""Deterministic document identity.

Engine-internal doc IDs are ``xxhash64(url)`` (Spark built-in, JVM-side,
no Python involved) — deterministic across runs and parallelism levels,
which the rank-identity requirement depends on (SURVEY.md §7.3: never
``monotonically_increasing_id``).

``reference_hash`` replicates ``tools/Hasher.java:8-40`` (SHA-1 digest,
each byte mapped through a bespoke 2-char alphabet: first char cycles
a..z, second char is one of "acegikmoqs" per 26-block) for fixture-level
byte-identity with reference row keys only. It is never on a hot path.
"""

from __future__ import annotations

import hashlib

_FIRST = "abcdefghijklmnopqrstuvwxyz"
_SECOND = "acegikmoqs"
# byte value v (0..255) -> 2-char code: letter (v % 26) + vowel-ish (v // 26)
_BYTE2CHARS = [_FIRST[v % 26] + _SECOND[v // 26] for v in range(256)]


def _java_byte_index(u: int) -> int:
    # Hasher.java:35 indexes with `(b > 0) ? b : 255 + b` on a SIGNED byte:
    # unsigned 1..127 -> itself, 0 -> 255, 128..255 -> 127..254.
    if 1 <= u <= 127:
        return u
    return 255 if u == 0 else u - 1


def reference_hash(x: str) -> str:
    """Byte-identical replica of the reference's ``Hasher.hash``."""
    digest = hashlib.sha1(x.encode("utf-8")).digest()
    return "".join(_BYTE2CHARS[_java_byte_index(b)] for b in digest)
