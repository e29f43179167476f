"""Per-file key Bloom filters — Hudi bloom-index parity.

The reference's upsert relies on Hudi's bloom index to tag incoming
records against existing file groups (implied by the upsert operation,
glue/HudiJarGlueJob.py:83; Hudi stores the filters in parquet footers).
Here each data file's filter is built from the key column(s) at write
time and stored once, as the ``bloom`` bytes of the file's row in the
manifest shard (:func:`to_bytes` / :func:`from_bytes`), and
:meth:`KeyedTable.read_keys` probes the filters to prune files BEFORE
any scan — a point lookup on a 100 TB table opens only the files that
may hold the key, typically one per partition, instead of every file
min/max overlap would admit (keys are usually scattered, so min/max
pruning is useless for them — exactly why Hudi uses blooms and not
range stats for its index).

False positives only (a pruned-in file may lack the key — the exact
filter after the scan settles it); a file with NO manifest bloom is
kept, so false negatives are impossible by construction. Tables written
before the filters moved into the manifest may still hold
``.<file>.bloom`` JSON files in their data dirs: nothing reads them, and
``clean()`` removes them as unreferenced files. Filters are internal
metadata: hashes only need to be stable within this library, so a
self-contained hash of the stringified key is fine (and engine-portable
if anything else ever wants to read them).
"""

from __future__ import annotations

import base64
import datetime
import decimal
import hashlib

import numpy as np

#: ~1% false-positive rate at 10 bits/key with 7 probes.
BITS_PER_KEY = 10
NUM_PROBES = 7

#: Hash family NEW filters are built with. Every filter RECORDS its
#: family ("h" in the dict; the pad field of the binary shard form), and
#: every probe hashes with the filter's OWN family — so filters
#: persisted under the legacy md5 family (pre-r16 shards, e.g.
#: disk-revalidated fixtures) keep their no-false-negative guarantee
#: forever. "poly1" is a fully vectorized numpy construction (~20× less
#: per-key Python than the md5 loop, which cProfile put at ~0.3 s per
#: 40k-key commit on the write side alone); it is self-contained —
#: byte-for-byte reproducible from this file, no library hash whose
#: cross-version stability we'd be betting row correctness on.
BLOOM_HASH = "poly1"

def _canon_value(v) -> str:
    """Canonical string for ONE key value. The write side hashes pyarrow
    ``to_pylist`` objects; the probe side hashes caller-supplied Python
    values — equal values MUST canonicalize identically or the probe
    produces a bloom FALSE NEGATIVE (file skipped, rows silently
    dropped). So: integral floats/Decimals collapse to the int form
    (probing a long key with ``5.0`` or ``Decimal('5.00')`` hits rows
    written as ``5``), Decimals drop trailing zeros, and tz-aware
    timestamps normalize to naive UTC."""
    if v is None:
        return "\0null"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return str(int(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return str(int(f)) if f.is_integer() else repr(f)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def key_string(values) -> str:
    """Canonical string form of a (possibly composite) key tuple."""
    return "|".join(_canon_value(v) for v in values)


def key_strings_table(kt) -> list[str]:
    """Canonical key strings for every row of a pyarrow table of key
    columns — the bulk form of :func:`key_string` for the write-side
    bloom build (r15 optimization: the per-row ``to_pylist`` +
    ``_canon_value`` loop was ~60% of the driver-side bloom cost at
    ~6 µs/key; this path canonicalizes in Arrow C++ at ~0.3 µs/key).

    BYTE-IDENTICAL to ``key_string`` by construction for the types it
    fast-paths (ints: decimal text; bools: "0"/"1"; strings: identity;
    nulls: "\\0null"); any other column type falls back to the per-row
    form, so a float/decimal/timestamp key keeps the exact legacy
    canonicalization (a mismatch would be a bloom false negative —
    silently dropped rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def _canon_col(col):
        t = col.type
        if pa.types.is_boolean(t):
            return pc.cast(pc.cast(col, pa.int8()), pa.string())
        if pa.types.is_integer(t):
            return pc.cast(col, pa.string())
        if pa.types.is_string(t):
            return col
        if pa.types.is_large_string(t):
            return pc.cast(col, pa.string())
        return None

    canon = []
    for name in kt.column_names:
        c = _canon_col(kt.column(name))
        if c is None:  # unsupported type → exact legacy per-row path
            return [
                key_string(vals)
                for vals in zip(*[kt.column(n).to_pylist() for n in kt.column_names])
            ]
        canon.append(pc.fill_null(c, "\0null"))
    if len(canon) == 1:
        return canon[0].to_pylist()
    return pc.binary_join_element_wise(*canon, "|").to_pylist()


def key_strings_values(values) -> list[str]:
    """Canonical key strings for a list of SINGLE-COLUMN key values —
    the probe-side bulk twin of :func:`key_strings_table` (r16: a 40k-
    key DV prune spent ~0.1 s in the per-key ``key_string`` loop).
    Exact by construction: the arrow path fast-paths the same types
    key_strings_table does and anything else (or a list arrow cannot
    type uniformly) takes the per-value legacy form."""
    vals = list(values)
    if not vals:
        return []
    try:
        import pyarrow as pa

        arr = pa.array(vals)
    except Exception:  # noqa: BLE001 — mixed types: legacy path
        return [key_string((v,)) for v in vals]
    return key_strings_table(pa.table({"k": arr}))


def _hash_pair(key: str) -> tuple[int, int]:
    d = hashlib.md5(key.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big")


_GOLD = np.uint64(0x9E3779B97F4A7C15)
_POLY_P = np.uint64(0x100000001B3)  # FNV-64 prime as polynomial base


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer — the standard 64-bit avalanche."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _poly_pairs_np(keys: list[str]) -> np.ndarray:
    """(n, 2) uint64 (h1, h2) via a vectorized polynomial hash over the
    utf-8 bytes (base = FNV prime, natural 2^64 wrap) with the true
    byte length mixed in (zero-padding would otherwise alias keys with
    trailing NULs — the canonical null marker contains one) and two
    SplitMix64 finalizers for the double-hash pair. All C-side numpy
    except the per-key encode/len.

    Keys are hashed in groups of one power-of-two length class, so each
    group's zero-padded byte matrix is at most twice its keys' bytes: a
    single long key no longer sizes an n × max_len matrix for the whole
    batch."""
    bs = [k.encode("utf-8") for k in keys]
    lens = np.array([len(b) for b in bs], dtype=np.uint64)
    width = max(1, int(lens.max()))
    with np.errstate(over="ignore"):  # 2^64 wrap is the arithmetic
        # powers indexed by BYTE POSITION (P^0 at position 0): the
        # padding zeros beyond a key's length contribute nothing, so a
        # key hashes identically no matter what batch (and batch max
        # width) it is probed or built in
        pows = np.empty(width, dtype=np.uint64)
        acc = np.uint64(1)
        for i in range(width):
            pows[i] = acc
            acc = acc * _POLY_P
        base = np.empty(len(bs), dtype=np.uint64)
        length_class = np.frexp(lens.astype(np.float64))[1]
        for c in np.unique(length_class):
            idx = np.flatnonzero(length_class == c)
            w = max(1, int(lens[idx].max()))
            mat = (
                np.frombuffer(
                    np.array([bs[i] for i in idx], dtype=f"S{w}").tobytes(),
                    dtype=np.uint8,
                )
                .reshape(len(idx), w)
                .astype(np.uint64)
            )
            base[idx] = (mat * pows[None, :w]).sum(axis=1, dtype=np.uint64)
        h1 = _splitmix64(base ^ (lens * _GOLD))
        h2 = _splitmix64(base + _GOLD + lens)
    return np.stack([h1, h2], axis=1)


def _hash_pairs_np(keys: list[str], kind: str = "md5") -> np.ndarray:
    """(n, 2) uint64 array of (h1, h2) for every key under the given
    hash family — md5 (legacy; same split as :func:`_hash_pair`) or
    poly1 (vectorized)."""
    if not keys:
        return np.empty((0, 2), dtype=np.uint64)
    if kind == "poly1":
        return _poly_pairs_np(keys)
    digests = b"".join(hashlib.md5(k.encode("utf-8")).digest() for k in keys)
    return np.frombuffer(digests, dtype=">u8").reshape(-1, 2).astype(np.uint64)


def _probe_bits(h: np.ndarray, m: int, k: int = NUM_PROBES) -> np.ndarray:
    """(n, k) probe bit positions. Reduces h1/h2 mod m FIRST so uint64
    arithmetic cannot wrap (m ≤ 10·n ≪ 2^60, so (h1%m) + i·(h2%m) stays
    exact) — bit-identical to the unbounded-int form (h1 + i·h2) % m."""
    um = np.uint64(m)
    a = h[:, 0] % um
    b = h[:, 1] % um
    i = np.arange(k, dtype=np.uint64)
    return (a[:, None] + i[None, :] * b[:, None]) % um


def build(keys: list[str], kind: str = BLOOM_HASH) -> dict:
    """A serializable bloom over ``keys`` (double hashing: probe i uses
    h1 + i*h2 mod m — the standard Kirsch-Mitzenmacher construction),
    recording its hash family so probes always match it. Fully
    vectorized under the default poly1 family; ``kind="md5"`` builds
    the legacy form (byte-compatible with pre-r16 filters)."""
    m = max(1024, len(keys) * BITS_PER_KEY)
    arr = np.zeros((m + 7) // 8, dtype=np.uint8)
    if keys:
        bits = _probe_bits(_hash_pairs_np(keys, kind), m).ravel()
        np.bitwise_or.at(
            arr, (bits >> np.uint64(3)).astype(np.int64),
            np.left_shift(np.uint8(1), (bits & np.uint64(7)).astype(np.uint8)),
        )
    out = {"m": m, "k": NUM_PROBES, "n": len(keys), "b64": base64.b64encode(arr.tobytes()).decode()}
    if kind != "md5":
        out["h"] = kind
    return out


def _decode(bloom: dict) -> np.ndarray:
    if "arr" in bloom:  # already-decoded bits (manifest-shard path)
        return bloom["arr"]
    return np.frombuffer(base64.b64decode(bloom["b64"]), dtype=np.uint8)


#: binary-header code ↔ hash family (pad field of the pre-r16 header,
#: which was always written 0 — i.e. md5)
_KIND_CODE = {"md5": 0, "poly1": 1}
_CODE_KIND = {v: k for k, v in _KIND_CODE.items()}


def to_bytes(bloom: dict) -> bytes:
    """Compact binary form for manifest-shard storage: 8-byte header
    (m uint32, k uint16, hash-family code uint16 — 0 is the legacy md5,
    exactly what pre-r16 shards carry) + raw filter bits."""
    import struct

    code = _KIND_CODE[bloom.get("h", "md5")]
    return struct.pack("<IHH", bloom["m"], bloom["k"], code) + _decode(bloom).tobytes()


def from_bytes(raw: bytes) -> dict:
    import struct

    m, k, code = struct.unpack("<IHH", raw[:8])
    out = {
        "m": m,
        "k": k,
        "arr": np.frombuffer(raw[8:], dtype=np.uint8),
    }
    kind = _CODE_KIND.get(code, "md5")
    if kind != "md5":
        out["h"] = kind
    return out


class ProbeHashes:
    """Hash-pair arrays for one probe key set, computed LAZILY per hash
    family and cached — probing P files hashes the keys once per
    family PRESENT among the files' filters (normally exactly one),
    never once per file."""

    def __init__(self, keys: list[str]):
        self.keys = list(keys)
        self._by_kind: dict[str, np.ndarray] = {}

    def __len__(self) -> int:
        return len(self.keys)

    def for_kind(self, kind: str) -> np.ndarray:
        a = self._by_kind.get(kind)
        if a is None:
            a = _hash_pairs_np(self.keys, kind)
            self._by_kind[kind] = a
        return a


def contains_any_hashed(bloom: dict, hashes) -> bool:
    """:func:`contains_any` over a precomputed probe set — either a
    :class:`ProbeHashes` (hashes with the filter's OWN family) or a raw
    ``(n, 2)`` array the caller already matched to this filter's
    family."""
    if isinstance(hashes, ProbeHashes):
        if not hashes.keys:
            return False
        hashes = hashes.for_kind(bloom.get("h", "md5"))
    if hashes.shape[0] == 0:
        return False
    arr = _decode(bloom)
    # probe with the filter's OWN k — a filter written under a
    # different NUM_PROBES must keep its no-false-negative guarantee
    bits = _probe_bits(hashes, bloom["m"], bloom["k"])
    hit = (
        arr[(bits >> np.uint64(3)).astype(np.int64)]
        >> (bits & np.uint64(7)).astype(np.uint8)
    ) & 1
    return bool(hit.all(axis=1).any())


def hash_pairs(keys: list[str]) -> ProbeHashes:
    """Public precompute for :func:`contains_any_hashed`."""
    return ProbeHashes(keys)


def contains_any(bloom: dict, keys: list[str]) -> bool:
    """True iff the filter may hold ANY of ``keys``. Decodes the bit
    array ONCE and tests all keys vectorized — the per-(key, file) form
    (:func:`maybe_contains`) re-decodes per call, which dominates when a
    lookup probes many keys against many files' filters."""
    if not keys:
        return False
    return contains_any_hashed(
        bloom, _hash_pairs_np(keys, bloom.get("h", "md5"))
    )


def maybe_contains(bloom: dict, key: str) -> bool:
    return contains_any(bloom, [key])
