"""Steinhaus-Johnson-Trotter permutation enumerator.

Re-implements the exact enumeration of the reference's
``lib/Permuter.js:13-83`` rather than ``itertools.permutations``: the
reference keys element direction by *value*, so duplicate related-ids in
the input list collapse and yield fewer permutations -- which matters for
deep-iteration-budget fidelity (each permutation processed can trigger
budget-counted recursions in hash-n-degree).  The input list is sorted
in place first (``lib/Permuter.js:15``), using UTF-16 code-unit order.
"""

from __future__ import annotations

from .terms import utf16_sort_key


class Permuter:
    __slots__ = ("current", "done", "direction", "keys")

    def __init__(self, lst):
        self.current = lst
        self.done = False
        if len(lst) < 2:
            # one permutation, nothing to order
            self.direction = self.keys = None
            return
        # JS string comparison is UTF-16 code-unit order, and input
        # labels may hold any character, so every comparison goes
        # through the UTF-16 key; computed once per element here
        # rather than on every step
        self.keys = keys = {e: utf16_sort_key(e) for e in lst}
        lst.sort(key=keys.__getitem__)
        # direction keyed by element VALUE (duplicates share an entry),
        # True = looking left
        self.direction = {e: True for e in lst}

    def has_next(self):
        return not self.done

    def next(self):
        current, direction, keys = self.current, self.direction, self.keys
        rval = list(current)
        if keys is None:
            self.done = True
            return rval

        # find largest mobile element k
        k = None
        k_key = None
        pos = 0
        length = len(current)
        for i in range(length):
            element = current[i]
            left = direction[element]
            e_key = keys[element]
            if (k is None or e_key > k_key) and (
                (left and i > 0 and e_key > keys[current[i - 1]])
                or (not left and i < length - 1
                    and e_key > keys[current[i + 1]])
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
                if keys[element] > k_key:
                    direction[element] = not direction[element]
        return rval
