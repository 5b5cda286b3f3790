"""Differential tests for the kernel's per-call shortcuts: each is
compared with a verbatim copy of its straightforward form.

* ``Permuter`` caches the UTF-16 keys of its elements and answers a
  list of fewer than two elements without sorting;
* ``RDFC10.hash_related_blank_node`` hashes one framed string and
  memoizes its digest per run, where the reference streams three
  pieces through a fresh digest every call;
* ``input_hash_of_rows`` encodes each value once and frames bytes.
"""

import hashlib
import os
import random

from rdf_canonize_spark.pipeline.canon_stage import (
    _jvm_text,
    input_hash_of_rows,
)
from rdf_canonize_spark.rdfc.canonize import (
    RDFC10,
    MessageDigest,
    WebCryptoMessageDigest,
)
from rdf_canonize_spark.rdfc.nquads import parse
from rdf_canonize_spark.rdfc.permuter import Permuter
from rdf_canonize_spark.rdfc.terms import (
    BLANK,
    DEFAULT_GRAPH_TERM,
    named,
    utf16_sort_key,
)

# --- Permuter ----------------------------------------------------------


class StraightPermuter:
    """The enumerator with a UTF-16 key computed on every comparison."""

    __slots__ = ("current", "done", "direction")

    def __init__(self, lst):
        lst.sort(key=utf16_sort_key)
        self.current = lst
        self.done = False
        self.direction = {e: True for e in lst}

    def has_next(self):
        return not self.done

    def next(self):
        current, direction = self.current, self.direction
        rval = list(current)

        k = None
        k_key = None
        pos = 0
        length = len(current)
        for i in range(length):
            element = current[i]
            left = direction[element]
            e_key = utf16_sort_key(element)
            if (k is None or e_key > k_key) and (
                (left and i > 0
                 and e_key > utf16_sort_key(current[i - 1]))
                or (not left and i < length - 1
                    and e_key > utf16_sort_key(current[i + 1]))
            ):
                k = element
                k_key = e_key
                pos = i
        if k is None:
            self.done = True
        else:
            swap = pos - 1 if direction[k] else pos + 1
            current[pos] = current[swap]
            current[swap] = k
            for element in current:
                if utf16_sort_key(element) > k_key:
                    direction[element] = not direction[element]
        return rval


# astral characters sort below U+E000..U+FFFD in UTF-16 order and above
# them in code-point order
ALPHABET = ["a", "b", "\ue000", "\ufffd", "\U0001f600", "\U00010000"]


def _enumerate(cls, lst):
    permuter = cls(lst)
    out = []
    while permuter.has_next():
        out.append(permuter.next())
    return out


def test_permuter_matches_straight_enumeration():
    rng = random.Random(20261017)
    pool = ["".join(rng.choice(ALPHABET) for _ in range(rng.randint(1, 3)))
            for _ in range(12)]
    assert sorted(pool) != sorted(pool, key=utf16_sort_key)
    cases = [[], ["\U0001f600"]]
    for _ in range(400):
        n = rng.randint(0, 6)
        # a small pool per list, so duplicates are common
        choices = rng.sample(pool, rng.randint(1, 6))
        cases.append([rng.choice(choices) for _ in range(n)])
    lengths = set()
    for lst in cases:
        lengths.add(len(lst))
        mine, straight = list(lst), list(lst)
        assert _enumerate(Permuter, mine) == _enumerate(
            StraightPermuter, straight), lst
        assert mine == straight  # both sort their input in place
    assert lengths == set(range(7))


# --- related-hash framing ----------------------------------------------

# predicates with a lone surrogate at either edge, or an astral character
PREDICATES = [
    "http://ex/p\ud800",
    "\udc00http://ex/p",
    "http://ex/\U0001f600p",
]


def _recursing_datasets():
    """Graphs that reach n-degree hashing: a blank-node triangle per
    predicate, and twins whose quads sit in a blank-node graph (the
    ``g`` position)."""
    out = []
    for p in PREDICATES:
        a, b, c = ((BLANK, x, None, None) for x in "abc")
        out.append([(a, named(p), b, DEFAULT_GRAPH_TERM),
                    (b, named(p), c, DEFAULT_GRAPH_TERM),
                    (c, named(p), a, DEFAULT_GRAPH_TERM)])
        x, y, g = ((BLANK, v, None, None) for v in "xyg")
        out.append([(x, named(p), y, g), (y, named(p), x, g)])
    return out


def straight_related_hash(run, related, quad, issuer, position):
    """The reference's three-update related hash, with a fresh digest."""
    md = MessageDigest()
    md.update(position)
    if position != "g":
        md.update("<" + quad[1][1] + ">")
    if run.canonical_issuer.has_id(related):
        rid = "_:" + run.canonical_issuer.get_id(related)
    elif issuer.has_id(related):
        rid = "_:" + issuer.get_id(related)
    else:
        rid = run.blank_node_info[related]["hash"]
    md.update(rid)
    return md.digest()


def _run(dataset, create_message_digest=None, check=None):
    label_map = {}
    run = RDFC10(create_message_digest=create_message_digest,
                 canonical_id_map=label_map, max_work_factor=3)
    if check is not None:
        hashed = run.hash_related_blank_node

        def checked(related, quad, issuer, position):
            h = hashed(related, quad, issuer, position)
            check(run, related, quad, issuer, position, h)
            return h

        run.hash_related_blank_node = checked
    return run.main(list(dataset)), label_map, run


def test_related_hash_equals_streamed_three_updates():
    seen = set()

    def check(run, related, quad, issuer, position, h):
        assert h == straight_related_hash(run, related, quad, issuer,
                                          position)
        seen.add((position, quad[1][1]))

    for dataset in _recursing_datasets():
        _run(dataset, check=check)
    assert {pos for pos, _ in seen} == {"s", "o", "g"}
    assert {p for _, p in seen} == set(PREDICATES)


def test_related_hash_digest_independence():
    for dataset in _recursing_datasets():
        expected = _run(dataset)[:2]
        assert _run(dataset, lambda: WebCryptoMessageDigest("sha256"))[:2] \
            == expected
        made = []

        def counting():
            made.append(1)
            return MessageDigest()

        assert _run(dataset, counting)[:2] == expected
        assert made


def test_related_hash_is_memoized_per_run():
    path = os.path.join(os.path.dirname(__file__), "fixtures", "rdfc10",
                        "clique-3-in.nq")
    with open(path, encoding="utf-8") as f:
        dataset = parse(f.read())
    related_calls = []
    made = []

    def counting():
        made.append(1)
        return MessageDigest()

    _, _, run = _run(dataset, counting,
                     check=lambda *args: related_calls.append(1))
    first_degree = len(run.blank_node_info)
    related_digests = len(made) - first_degree - run.deep_iterations_used
    assert 0 < related_digests < len(related_calls)


# --- input hash --------------------------------------------------------


def straight_input_hash(rows):
    """The input hash framed as text, re-encoding each value."""
    digests = set()
    for row in rows:
        parts = []
        for v in row:
            if v is None:
                parts.append(chr(0))
            else:
                s = _jvm_text(str(v))
                parts.append("%d:%s" % (len(s.encode("utf-8")), s))
        digests.add(
            hashlib.sha256(chr(31).join(parts).encode("utf-8")).hexdigest()
        )
    return hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()


def test_input_hash_matches_text_framing():
    rows = [
        (0, "http://ex/s", "http://ex/p", 2, "plain", None, None, 3, ""),
        (1, "b0", "http://ex/p", 2, "café \U0001f600", None, "fr", 3,
         ""),
        (0, "http://ex/s", "http://ex/q", 2, "x" + chr(0xD800) + "y",
         None, None, 3, ""),
        (0, "http://ex/s", "http://ex/q", 2, chr(0xD800) + chr(0xDC00),
         None, None, 3, ""),
        (0, "http://ex/s", "http://ex/r", 2, "a" + chr(31) + "1:b",
         "http://ex/dt", None, 3, ""),
        (0, "http://ex/s", "http://ex/r", 2, "a" + chr(0) + "b", None,
         None, 0, "http://ex/g"),
        (None, None, None, None, None, None, None, None, None),
        (12, -3, "http://ex/p", 2, 0, None, None, 3, ""),
    ]
    assert input_hash_of_rows(rows) == straight_input_hash(rows)
    for row in rows:
        assert input_hash_of_rows([row]) == straight_input_hash([row])
    assert input_hash_of_rows([]) == straight_input_hash([])
