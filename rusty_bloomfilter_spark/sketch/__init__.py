"""Pure-numpy mergeable sketch cores (no Spark dependency).

Every sketch obeys the same algebra the reference pins for its Bloom
filter (`/root/reference/src/bloomfilter/mod.rs`, merge matrices at
mod.rs:621-761): merge is associative and commutative with an empty
identity, and serialization is canonical (a pure function of content),
so distributed tree-merges are order-independent.

Each accumulator also declares ``max_payload_bytes()``: the largest
``to_bytes`` its config can produce, however much data it sees. The
Spark builds size their driver-side merge budget with it.
"""

from .iblt import IBLT
from .ams import CountSketch
from .blocked import BlockedBloomFilter
from .bloom import BloomFilter, SparseBloomBuilder, merge_payloads, popcount_words
from .cms import CountMinSketch
from .counting import CountingBloomFilter
from .ddsketch import DDSketch
from .hashing import hash_pair, km_indices, ngram_hashes, splitmix64, tokens_to_u64
from .hll import HyperLogLog
from .freqdirs import FrequentDirections, GramMatrix
from .kll import KLLSketch
from .misragries import MisraGries
from .shape import Shape
from .tdigest import TDigest
from .xorfilter import XorFilter

_KINDS = {
    b"RBSK": BloomFilter,
    b"RBKB": BlockedBloomFilter,
    b"RHLL": HyperLogLog,
    b"RCMS": CountMinSketch,
    b"RCBF": CountingBloomFilter,
    b"RKLL": KLLSketch,
    b"RDDS": DDSketch,
    b"RTDG": TDigest,
    b"RMGS": MisraGries,
    b"RIBL": IBLT,
    b"RAMS": CountSketch,
    b"RGRM": GramMatrix,
    b"RFDS": FrequentDirections,
    b"RXOR": XorFilter,
}


def sketch_from_bytes(data: bytes):
    """Deserialize any sketch by its magic header."""
    cls = _KINDS.get(bytes(data[:4]))
    if cls is None:
        raise ValueError(f"unknown sketch magic {bytes(data[:4])!r}")
    return cls.from_bytes(data)


def merge_sketch_payloads(payloads: list[bytes]) -> bytes:
    """OR/add/max/compact-merge serialized sketches of any one kind;
    associative + commutative, canonical output bytes. The generic
    merge used by every Spark tree-merge stage."""
    if not payloads:
        raise ValueError("nothing to merge")
    # fail on mixed kinds up front: one wrong-kind row in a tree-merge
    # stage must say so, not surface as an AttributeError deep inside
    # merge_in_place
    kind = bytes(payloads[0][:4])
    for p in payloads[1:]:
        if bytes(p[:4]) != kind:
            raise ValueError(
                f"sketch kind mismatch in merge: {kind!r} vs {bytes(p[:4])!r}"
            )
    acc = sketch_from_bytes(payloads[0])
    for p in payloads[1:]:
        acc.merge_in_place(sketch_from_bytes(p))
    return acc.to_bytes()


__all__ = [
    "BlockedBloomFilter",
    "IBLT",
    "BloomFilter",
    "CountMinSketch",
    "CountSketch",
    "CountingBloomFilter",
    "DDSketch",
    "FrequentDirections",
    "GramMatrix",
    "HyperLogLog",
    "KLLSketch",
    "MisraGries",
    "Shape",
    "SparseBloomBuilder",
    "TDigest",
    "hash_pair",
    "km_indices",
    "merge_payloads",
    "merge_sketch_payloads",
    "ngram_hashes",
    "popcount_words",
    "sketch_from_bytes",
    "splitmix64",
    "tokens_to_u64",
    "XorFilter",
]
