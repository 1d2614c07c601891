"""SMARTS parser + subgraph matcher over ``MolGraph`` (round 7).

Built to make the reference's last fingerprint family computable
without RDKit: 'MACCS fingerprints' (iFeatureOmegaCLI.py:9834 ->
chem/fingerprint.py:43-64) is RDKit ``MACCSkeys.GenMACCSKeys``, i.e.
166 published SMARTS keys evaluated by a substructure matcher.  The
reference contains no matcher of its own — this module is an original
implementation of the Daylight SMARTS subset those keys need, over the
pure-Python ``MolGraph`` from `functions/molgraph.py`.

Supported surface (everything the MACCS table uses, plus the obvious
neighbours so the engine is generally useful):

* atom primitives: ``*``, ``a``/``A``, organic-subset symbols
  (``C N O P S F Cl Br I B`` and aromatic ``b c n o p s``), bracket
  atoms with ``#n``, element symbols (incl. two-letter metals),
  ``Hn`` (total-H count), ``R``/``R0`` (ring membership), ``rn``
  (in a ring of size n), ``Dn`` (explicit degree), ``Xn`` (total
  connections), ``vn`` (total valence), ``+n``/``-n``/``+0``
  (formal charge), leading digits (isotope), and recursive
  ``$(...)`` environments anchored at their first atom.
* atom logic: ``!`` (not) > ``&``/juxtaposition (and) > ``,`` (or)
  > ``;`` (low-precedence and) — the Daylight precedence ladder.
* bond primitives ``- = # : ~ @ / \\`` with the same logic
  operators (``!:``, ``!@``, ``=;@`` ...); an omitted bond is the
  Daylight default "single or aromatic".
* ring-closure digits (``%nn`` too), branches, and injective
  (distinct query atoms -> distinct molecule atoms) matching with
  RDKit-style uniquify (two matches are duplicates when they cover
  the same atom set).

Semantics notes, engine-wide and deliberate:

* Aromaticity is NOTATION-CARRIED (molgraph.py:21-23): lowercase /
  ``:`` input marks aromatic atoms and in-ring bonds between them;
  no Hückel perception runs, so Kekulé-written benzene stays
  aliphatic here while RDKit would aromatize it.  The reference's
  own corpus (Chemical_SMILES.txt) and the golden fixtures use
  aromatic notation, where the two conventions agree.  Same
  convention every other chem kernel in this repo already follows.
* ``H`` inside brackets is always the hydrogen-count primitive
  (``[CH3]``); a lone hydrogen ATOM query ``[H]`` (which RDKit
  treats as element 1) is not distinguished — the MACCS table never
  queries hydrogen atoms and the molecule graph is H-suppressed.
* ``Rn`` with n >= 1 matches "in a ring" (SSSR ring-COUNT
  membership beyond >=1 is not modelled); the MACCS table only uses
  bare ``[R]`` / ``R0``.

Matcher: precomputed per-molecule properties (``MolProps``) + a
backtracking subgraph search seeded from query atom 0, candidates
drawn from neighbours of already-mapped atoms, every query bond
(tree + ring closure) checked at placement time.  Recursive
environments are evaluated with the candidate pinned to the
sub-query's atom 0 and memoised per (sub-query source, atom).

Round 8 execution model: every atom/bond expression compiles once
into int-BITMASK closures (bit i = atom/bond i matches), cached on
the MolProps by canonical key so expressions AND primitives shared
across patterns (the MACCS table reuses ``[!#6;!#1]``, ``[R]``,
``a``...) cost one pass per molecule; the backtracker tests
candidates with shifts and the per-query screens collapse to int
ANDs.  The scalar precedence-ladder evaluators remain as the
independent reference semantics, differentially tested against the
compiled path over the whole MACCS table
(tests/test_smarts.py::test_compiled_masks_match_scalar_reference).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

import numpy as np

from ifeatureomega_cli_spark.functions.molgraph import MolGraph


class SmartsError(ValueError):
    pass


# Full element-symbol table for PATTERN atoms (public periodic-table
# constants).  Wider than molgraph's SMILES alphabet on purpose: a
# SMARTS key may name a metal the SMILES parser never produces — the
# primitive then simply never matches.
_ELEMENTS = {
    "H": 1, "He": 2, "Li": 3, "Be": 4, "B": 5, "C": 6, "N": 7, "O": 8,
    "F": 9, "Ne": 10, "Na": 11, "Mg": 12, "Al": 13, "Si": 14, "P": 15,
    "S": 16, "Cl": 17, "Ar": 18, "K": 19, "Ca": 20, "Sc": 21, "Ti": 22,
    "V": 23, "Cr": 24, "Mn": 25, "Fe": 26, "Co": 27, "Ni": 28, "Cu": 29,
    "Zn": 30, "Ga": 31, "Ge": 32, "As": 33, "Se": 34, "Br": 35,
    "Kr": 36, "Rb": 37, "Sr": 38, "Y": 39, "Zr": 40, "Nb": 41,
    "Mo": 42, "Tc": 43, "Ru": 44, "Rh": 45, "Pd": 46, "Ag": 47,
    "Cd": 48, "In": 49, "Sn": 50, "Sb": 51, "Te": 52, "I": 53,
    "Xe": 54, "Cs": 55, "Ba": 56, "La": 57, "Ce": 58, "Pr": 59,
    "Nd": 60, "Pm": 61, "Sm": 62, "Eu": 63, "Gd": 64, "Tb": 65,
    "Dy": 66, "Ho": 67, "Er": 68, "Tm": 69, "Yb": 70, "Lu": 71,
    "Hf": 72, "Ta": 73, "W": 74, "Re": 75, "Os": 76, "Ir": 77,
    "Pt": 78, "Au": 79, "Hg": 80, "Tl": 81, "Pb": 82, "Bi": 83,
    "Po": 84, "At": 85, "Rn": 86, "Fr": 87, "Ra": 88, "Ac": 89,
    "Th": 90, "Pa": 91, "U": 92, "Np": 93, "Pu": 94, "Am": 95,
    "Cm": 96, "Bk": 97, "Cf": 98, "Es": 99, "Fm": 100, "Md": 101,
    "No": 102, "Lr": 103, "Rf": 104,
}


# ---------------------------------------------------------------------------
# query representation
#
# An atom/bond expression is the Daylight precedence ladder flattened:
#   expr  = [or_group, ...]          -- ';'-joined, ALL must hold
#   or_group = [and_group, ...]      -- ','-joined, ANY must hold
#   and_group = [(neg, kind, arg)]   -- '&'/juxtaposition, ALL must hold
# ---------------------------------------------------------------------------

def _sel_score(expr: list) -> int:
    """Static selectivity estimate of an atom expression — higher means
    fewer molecule atoms are expected to satisfy it.  Only used to pick
    the backtracker's seed atom; correctness never depends on it."""
    score = 0
    for or_group in expr:
        worst: int | None = None            # ',' — weakest branch rules
        for and_group in or_group:
            s = 0
            for neg, kind, arg in and_group:
                if neg:
                    s += 1 if kind in ("num", "sym") else 0
                elif kind in ("num", "sym"):
                    z = arg if kind == "num" else arg[0]
                    s += 2 if z == 6 else 6  # non-carbon pins are rare
                elif kind in ("hcount", "chg", "iso", "rsize"):
                    s += 3
                elif kind == "rec":
                    s += 4
                elif kind in ("arom", "ring", "deg", "conn", "val"):
                    s += 2
            worst = s if worst is None else min(worst, s)
        score += worst or 0
    return score


@dataclass
class Query:
    atom_exprs: list = field(default_factory=list)
    bonds: list = field(default_factory=list)       # (i, j, expr-or-None)
    # derived (built by _finalize):
    nbrs: list = field(default_factory=list)        # i -> [(j, bond_idx)]
    order: list = field(default_factory=list)       # match order, see below
    src: str = ""
    # structural prunings derived from the query GRAPH (not its exprs),
    # sound for injective matching:
    #   qdeg[i]     — molecule candidate must have degree >= this;
    #   cyc_bond[k] — query bond on a query cycle: a simple query cycle
    #                 maps to a simple molecule cycle, whose edges are
    #                 by definition non-bridges, i.e. RING bonds;
    #   cyc_atom[i] — incident to a cyc_bond: must map to a ring atom.
    qdeg: list = field(default_factory=list)
    cyc_bond: list = field(default_factory=list)
    cyc_atom: list = field(default_factory=list)
    order_anchored: list = field(default_factory=list)
    # compiled vectorized tests (round 8): per atom/bond expression a
    # (canonical key, mask fn) pair; MolProps caches masks by key
    atom_tests: list = field(default_factory=list)
    bond_tests: list = field(default_factory=list)

    def _finalize(self) -> None:
        n = len(self.atom_exprs)
        if n == 0:
            raise SmartsError(f"empty SMARTS: {self.src!r}")
        self.nbrs = [[] for _ in range(n)]
        for k, (i, j, _) in enumerate(self.bonds):
            self.nbrs[i].append((j, k))
            self.nbrs[j].append((i, k))
        self.qdeg = [len(nb) for nb in self.nbrs]
        # bond k is on a cycle iff its endpoints stay connected with k
        # removed (query graphs are tiny — the naive check is fine)
        self.cyc_bond = [False] * len(self.bonds)
        for k, (i, j, _) in enumerate(self.bonds):
            seen = {i}
            stack = [i]
            while stack:
                u = stack.pop()
                if u == j:
                    self.cyc_bond[k] = True
                    break
                for v, bk in self.nbrs[u]:
                    if bk != k and v not in seen:
                        seen.add(v)
                        stack.append(v)
        self.cyc_atom = [any(self.cyc_bond[k] for _, k in self.nbrs[i])
                         for i in range(n)]
        # match order: DFS; each step = (q_atom, parent_edges) where
        # parent_edges are the query bonds from q_atom to atoms already
        # placed at that step (tree edge + any ring closures).  Two
        # orders are kept: `order` seeds at the statically most
        # SELECTIVE atom (fewest molecule candidates to try — a pinned
        # heteroatom beats a wildcard), `order_anchored` seeds at atom 0
        # (recursive $(...) environments pin their first atom).
        def build(start: int):
            seen = [False] * n
            placed: list[int] = []
            order: list[tuple[int, list[tuple[int, int]]]] = []
            stack = [start]
            seen[start] = True
            while stack:
                u = stack.pop()
                edges = [(j, k) for j, k in self.nbrs[u] if j in placed]
                order.append((u, edges))
                placed.append(u)
                for j, _ in sorted(self.nbrs[u], reverse=True):
                    if not seen[j]:
                        seen[j] = True
                        stack.append(j)
            if len(placed) != n:
                raise SmartsError(
                    f"disconnected SMARTS not supported: {self.src!r}")
            return order

        self.order_anchored = build(0)
        seed = max(range(n),
                   key=lambda i: (_sel_score(self.atom_exprs[i]), -i))
        self.order = (self.order_anchored if seed == 0 else build(seed))
        self.atom_tests = [_compile_atom_expr(e) for e in self.atom_exprs]
        self.bond_tests = [_compile_bond_expr(e) for _, _, e in self.bonds]


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

_ORGANIC_SUBSET = {
    "Cl": (17, False), "Br": (35, False), "B": (5, False), "C": (6, False),
    "N": (7, False), "O": (8, False), "P": (15, False), "S": (16, False),
    "F": (9, False), "I": (53, False),
    "b": (5, True), "c": (6, True), "n": (7, True), "o": (8, True),
    "p": (15, True), "s": (16, True),
}
_AROMATIC_BRACKET = {"b", "c", "n", "o", "p", "s", "as", "se", "te"}
_BOND_CHARS = set("-=#:~@/\\")
_BOND_LOGIC = _BOND_CHARS | set("!&,;")


def _parse_bond_expr(s: str, i: int) -> tuple[list | None, int]:
    """Parse a bond expression at s[i:]; None if no bond chars present."""
    if i >= len(s) or s[i] not in _BOND_LOGIC:
        return None, i
    # '!' / '&' / ',' / ';' only start a bond expr if a bond primitive
    # follows somewhere before the next atom; in practice SMARTS bond
    # logic always begins '!' + primitive (e.g. '!:' '!@').
    if s[i] in "&,;":
        return None, i
    if s[i] == "!" and (i + 1 >= len(s) or s[i + 1] not in _BOND_CHARS):
        return None, i
    expr: list = []              # ';'-joined or-groups
    group: list = []             # ','-joined and-groups
    term: list = []              # '&'-joined terms
    neg = False
    while i < len(s) and s[i] in _BOND_LOGIC:
        c = s[i]
        if c == "!":
            neg = not neg
            i += 1
            continue
        if c == "&":
            i += 1
            continue
        if c == ",":
            group.append(term)
            term = []
            i += 1
            continue
        if c == ";":
            group.append(term)
            expr.append(group)
            group, term = [], []
            i += 1
            continue
        kind = {"-": "single", "/": "single", "\\": "single",
                "=": "double", "#": "triple", ":": "aromatic",
                "~": "anyb", "@": "ringb"}[c]
        term.append((neg, kind, None))
        neg = False
        i += 1
    group.append(term)
    expr.append(group)
    out = [g for g in expr if any(g2 for g2 in g)]
    if not out:
        raise SmartsError(f"empty bond expression in {s!r} at {i}")
    return out, i


def _read_digits(s: str, i: int) -> tuple[int | None, int]:
    j = i
    while j < len(s) and s[j].isdigit():
        j += 1
    return (int(s[i:j]) if j > i else None), j


def _parse_bracket(s: str, i: int, src: str) -> tuple[list, int]:
    """Parse the inside of a bracket atom starting after '['; returns
    (expr, index-after-']')."""
    expr: list = []              # ';'-joined list of or-groups
    group: list = [[]]           # ','-joined list of and-groups
    neg = False

    def term(kind, arg):
        nonlocal neg
        group[-1].append((neg, kind, arg))
        neg = False

    while i < len(s):
        c = s[i]
        if c == "]":
            expr.append(group)
            out = [g for g in expr if any(g2 for g2 in g)]
            if not out:
                raise SmartsError(f"empty bracket atom in {src!r}")
            return out, i + 1
        if c == "!":
            neg = not neg
            i += 1
        elif c == "&":
            i += 1
        elif c == ",":
            group.append([])
            i += 1
        elif c == ";":
            expr.append(group)
            group = [[]]
            i += 1
        elif c == "$":
            if i + 1 >= len(s) or s[i + 1] != "(":
                raise SmartsError(f"'$' without '(' in {src!r}")
            depth, j = 1, i + 2
            while j < len(s) and depth:
                depth += {"(": 1, ")": -1}.get(s[j], 0)
                j += 1
            if depth:
                raise SmartsError(f"unbalanced '$(' in {src!r}")
            term("rec", parse_smarts(s[i + 2: j - 1]))
            i = j
        elif c == "#":
            n, i = _read_digits(s, i + 1)
            if n is None:
                raise SmartsError(f"'#' without digits in {src!r}")
            term("num", n)
        elif c == "*":
            term("any", None)
            i += 1
        elif (c.isupper() and i + 1 < len(s) and s[i + 1].islower()
              and s[i:i + 2] in _ELEMENTS):
            # two-letter elements win over the H/R/D/X/... primitive
            # letters (RDKit: [Hf] is hafnium, [Rb] rubidium, [Dy]
            # dysprosium — an hcount is 'H' + digits, never + letter)
            term("sym", (_ELEMENTS[s[i:i + 2]], False))
            i += 2
        elif c == "H":
            n, i = _read_digits(s, i + 1)
            term("hcount", 1 if n is None else n)
        elif c == "R":
            n, i = _read_digits(s, i + 1)
            term("ring", not (n == 0))
        elif c == "r":
            n, i = _read_digits(s, i + 1)
            term("ring" if n is None else "rsize",
                 True if n is None else n)
        elif c == "D":
            n, i = _read_digits(s, i + 1)
            term("deg", 1 if n is None else n)
        elif c == "X":
            n, i = _read_digits(s, i + 1)
            term("conn", 1 if n is None else n)
        elif c == "v":
            n, i = _read_digits(s, i + 1)
            term("val", 1 if n is None else n)
        elif c in "+-":
            sign = 1 if c == "+" else -1
            j = i + 1
            count = 1
            while j < len(s) and s[j] == c:
                count += 1
                j += 1
            n, j2 = _read_digits(s, j)
            if n is not None and count == 1:
                term("chg", sign * n)
                i = j2
            else:
                term("chg", sign * count)
                i = j
        elif c.isdigit():
            n, i = _read_digits(s, i)
            term("iso", n)
        elif c == "a":
            if s[i:i + 2] in _AROMATIC_BRACKET and s[i:i + 2] != "a":
                sym = s[i:i + 2]
                term("sym", (_ELEMENTS[sym.capitalize()], True))
                i += 2
            else:
                term("arom", True)
                i += 1
        elif c == "A":
            # two-letter elements beat the aliphatic-any primitive
            if i + 1 < len(s) and s[i:i + 2] in _ELEMENTS:
                term("sym", (_ELEMENTS[s[i:i + 2]], False))
                i += 2
            else:
                term("arom", False)
                i += 1
        elif c in ("s", "t") and s[i:i + 2] in _AROMATIC_BRACKET:
            term("sym", (_ELEMENTS[s[i:i + 2].capitalize()], True))
            i += 2
        elif c.isupper():
            if i + 1 < len(s) and s[i:i + 2] in _ELEMENTS:
                term("sym", (_ELEMENTS[s[i:i + 2]], False))
                i += 2
            elif c in _ELEMENTS:
                term("sym", (_ELEMENTS[c], False))
                i += 1
            else:
                raise SmartsError(f"unknown element {c!r} in {src!r}")
        elif c.islower() and c in _ORGANIC_SUBSET:
            term("sym", _ORGANIC_SUBSET[c])
            i += 1
        else:
            raise SmartsError(f"unexpected {c!r} in bracket of {src!r}")
    raise SmartsError(f"unterminated bracket atom in {src!r}")


def _parse_atom(s: str, i: int, src: str) -> tuple[list, int]:
    c = s[i]
    if c == "[":
        return _parse_bracket(s, i + 1, src)
    if c == "*":
        return [[[(False, "any", None)]]], i + 1
    if c == "a":
        return [[[(False, "arom", True)]]], i + 1
    if c == "A":
        return [[[(False, "arom", False)]]], i + 1
    two = s[i:i + 2]
    if two in ("Cl", "Br"):
        return [[[(False, "sym", _ORGANIC_SUBSET[two])]]], i + 2
    if c in _ORGANIC_SUBSET:
        return [[[(False, "sym", _ORGANIC_SUBSET[c])]]], i + 1
    raise SmartsError(f"unexpected atom char {c!r} in {src!r}")


@lru_cache(maxsize=2048)
def parse_smarts(s: str) -> Query:
    """Parse a SMARTS string into a connected Query graph."""
    q = Query(src=s)
    rc: dict[int, tuple[int, list | None]] = {}
    prev: int | None = None
    stack: list[int | None] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "(":
            stack.append(prev)
            i += 1
            continue
        if c == ")":
            if not stack:
                raise SmartsError(f"unbalanced ')' in {s!r}")
            prev = stack.pop()
            i += 1
            continue
        bexpr, i = _parse_bond_expr(s, i)
        if i >= len(s):
            raise SmartsError(f"dangling bond in {s!r}")
        c = s[i]
        if c.isdigit() or c == "%":
            if c == "%":
                num = int(s[i + 1: i + 3])
                i += 3
            else:
                num = int(c)
                i += 1
            if prev is None:
                raise SmartsError(f"ring closure before any atom: {s!r}")
            if num in rc:
                a, bexpr0 = rc.pop(num)
                q.bonds.append((a, prev, bexpr if bexpr is not None
                                else bexpr0))
            else:
                rc[num] = (prev, bexpr)
            continue
        expr, i = _parse_atom(s, i, s)
        q.atom_exprs.append(expr)
        idx = len(q.atom_exprs) - 1
        if prev is not None:
            q.bonds.append((prev, idx, bexpr))
        elif bexpr is not None:
            raise SmartsError(f"bond before first atom in {s!r}")
        prev = idx
    if rc:
        raise SmartsError(f"unclosed ring bond(s) {sorted(rc)} in {s!r}")
    if stack:
        raise SmartsError(f"unbalanced '(' in {s!r}")
    q._finalize()
    return q


# ---------------------------------------------------------------------------
# molecule preparation
# ---------------------------------------------------------------------------

class MolProps:
    """Per-molecule property tables the matcher reads.

    Ring bonds are the non-bridge edges (exact, via a DFS bridge
    finder) — every bond on any cycle, not just SSSR members.
    """

    __slots__ = ("mol", "n", "anum", "arom", "hcount", "charge", "iso",
                 "deg", "inring", "nbrs", "border", "barom", "bring",
                 "_rec_cache", "_rsizes", "anum_counts", "eidx",
                 "_amask_cache", "_bmask_cache", "_qmask_cache")

    def __init__(self, mol: MolGraph):
        self.mol = mol
        n = self.n = mol.n_atoms
        self.anum = [a.atomic_num for a in mol.atoms]
        self.arom = [a.aromatic for a in mol.atoms]
        self.hcount = [a.h_count for a in mol.atoms]
        self.charge = [a.charge for a in mol.atoms]
        self.iso = [a.isotope for a in mol.atoms]
        self.nbrs = [[] for _ in range(n)]
        self.border = [b.order for b in mol.bonds]
        self.barom = [b.order == 1.5 for b in mol.bonds]
        self.eidx: dict[tuple[int, int], int] = {}
        for k, b in enumerate(mol.bonds):
            self.nbrs[b.a].append((b.b, k))
            self.nbrs[b.b].append((b.a, k))
            self.eidx[(b.a, b.b)] = self.eidx[(b.b, b.a)] = k
        self.deg = [len(nb) for nb in self.nbrs]
        self.bring = self._ring_bonds()
        self.inring = [any(self.bring[k] for _, k in self.nbrs[i])
                       for i in range(n)]
        # keyed by (sub-query SOURCE, atom): identical $(...) texts in
        # different patterns share one memo entry per molecule
        self._rec_cache: dict[tuple[str, int], bool] = {}
        self._rsizes: dict[int, set[int]] | None = None
        counts: dict[int, int] = {}
        for z in self.anum:
            counts[z] = counts.get(z, 0) + 1
        self.anum_counts = counts
        # compiled-mask caches (round 8 throughput work): canonical
        # atom/bond-expression key -> per-atom/per-bond bool mask, and
        # (query.src, q_atom) -> final candidate mask incl. the
        # structural screens.  Shared across all 166 MACCS patterns —
        # `[!#6;!#1]` evaluates ONCE per molecule, not once per pattern
        # per candidate atom.
        self._amask_cache: dict[str, np.ndarray] = {}
        self._bmask_cache: dict[str, np.ndarray] = {}
        self._qmask_cache: dict[tuple[str, int], list[bool]] = {}

    # lazy numpy property tables the mask compiler reads --------------
    def _arrays(self) -> dict[str, np.ndarray]:
        cached = self._amask_cache.get("\0arrays")
        if cached is None:
            border = np.asarray(self.border, dtype=np.float64)
            # accumulate RAW float bond orders and round the per-atom sum
            # once — mirroring the scalar evaluator's int(round(tot)):
            # rounding per bond would give an aromatic atom's two
            # 1.5-order bonds 2+2=4 instead of round(3.0)=3
            valf = np.zeros(self.n, dtype=np.float64)
            if len(self.mol.bonds):
                ab = np.array([(b.a, b.b) for b in self.mol.bonds])
                np.add.at(valf, ab[:, 0], border)
                np.add.at(valf, ab[:, 1], border)
            val = np.rint(valf).astype(np.int64)
            hc = np.asarray(self.hcount, dtype=np.int64)
            cached = {
                "anum": np.asarray(self.anum, dtype=np.int64),
                "arom": np.asarray(self.arom, dtype=bool),
                "hcount": hc,
                "charge": np.asarray(self.charge, dtype=np.int64),
                "iso": np.asarray(self.iso, dtype=np.int64),
                "deg": np.asarray(self.deg, dtype=np.int64),
                "inring": np.asarray(self.inring, dtype=bool),
                "conn": np.asarray(self.deg, dtype=np.int64) + hc,
                "val": val + hc,
                "border": border,
                "barom": np.asarray(self.barom, dtype=bool),
                "bring": np.asarray(self.bring, dtype=bool),
            }
            self._amask_cache["\0arrays"] = cached
        return cached

    # int-bitmask layer: bit i = atom/bond i matches.  Molecules are
    # small (tens of atoms), so a whole mask is one Python int and
    # per-query/per-expression combination collapses to int ANDs —
    # numpy at this size costs ~µs per op in allocation overhead,
    # which dominated the MACCS kernel (round-8 profile: mask plumbing
    # was ~2.7 ms of the 5.7 ms/mol budget).  Both primitives and full
    # expressions cache here by canonical key, so `!#6`, `[R]`, `a`...
    # shared across the 166 MACCS patterns each cost one pass per mol.
    def aint(self, key: str, fn) -> int:
        m = self._amask_cache.get(key)
        if m is None:
            m = fn(self)
            self._amask_cache[key] = m
        return m

    def bint(self, key: str, fn) -> int:
        m = self._bmask_cache.get(key)
        if m is None:
            m = fn(self)
            self._bmask_cache[key] = m
        return m

    def deg_at_least(self, k: int) -> int:
        """Int mask of atoms with degree >= k (the qdeg screen)."""
        key = f"\0deg>={k}"
        m = self._amask_cache.get(key)
        if m is None:
            m = _to_bits(np.asarray(self.deg) >= k)
            self._amask_cache[key] = m
        return m

    def inring_bits(self) -> int:
        m = self._amask_cache.get("\0inring")
        if m is None:
            m = _to_bits(np.asarray(self.inring, dtype=bool))
            self._amask_cache["\0inring"] = m
        return m

    def bring_bits(self) -> int:
        m = self._bmask_cache.get("\0bring")
        if m is None:
            m = _to_bits(np.asarray(self.bring, dtype=bool))
            self._bmask_cache["\0bring"] = m
        return m

    def _ring_bonds(self) -> list[bool]:
        """True for every bond on a cycle (= non-bridge), via iterative
        Tarjan bridge finding."""
        n = self.n
        ring = [True] * len(self.border)
        disc = [-1] * n
        low = [0] * n
        timer = 0
        for root in range(n):
            if disc[root] != -1:
                continue
            stack: list[tuple[int, int, int]] = [(root, -1, 0)]
            while stack:
                u, pe, ni = stack.pop()
                if ni == 0:
                    disc[u] = low[u] = timer
                    timer += 1
                resumed = False
                for idx in range(ni, len(self.nbrs[u])):
                    v, k = self.nbrs[u][idx]
                    if k == pe:
                        continue
                    if disc[v] == -1:
                        stack.append((u, pe, idx + 1))
                        stack.append((v, k, 0))
                        resumed = True
                        break
                    low[u] = min(low[u], disc[v])
                if resumed:
                    continue
                if pe != -1:
                    # find parent from edge
                    b = self.mol.bonds[pe]
                    p = b.a if b.b == u else b.b
                    low[p] = min(low[p], low[u])
                    if low[u] > disc[p]:
                        ring[pe] = False
        return ring

    def ring_sizes(self) -> dict[int, set[int]]:
        if self._rsizes is None:
            sizes: dict[int, set[int]] = {}
            for r in self.mol.sssr():
                sizes.setdefault(len(r), set()).update(r)
            self._rsizes = sizes
        return self._rsizes


def _to_bits(arr: np.ndarray) -> int:
    """bool ndarray -> int with bit i set where arr[i] (LSB = index 0)."""
    if not len(arr):
        return 0
    return int.from_bytes(
        np.packbits(arr, bitorder="little").tobytes(), "little")


# ---------------------------------------------------------------------------
# compiled vectorized evaluation (round 8)
#
# Every atom/bond expression compiles ONCE (at query build) into a
# canonical key + a closure producing a bool mask over all molecule
# atoms/bonds; MolProps caches masks by key, so an expression shared by
# many patterns (the MACCS table reuses `[!#6;!#1]`, `[R]`, `a` ...)
# costs one vectorized pass per molecule total.  Recursive $(...)
# environments stay per-atom (they ARE subgraph searches) but are only
# evaluated on atoms surviving the vectorized part of their AND group,
# and memoise through MolProps._rec_cache as before.
# ---------------------------------------------------------------------------

def _prim_key(neg: bool, kind: str, arg) -> str:
    if kind == "rec":
        a = f"$({arg.src})"
    else:
        a = str(arg)
    return ("!" if neg else "") + kind + ":" + a


def _expr_key(expr: list) -> str:
    return ";".join(
        ",".join("&".join(_prim_key(*p) for p in and_group)
                 for and_group in or_group)
        for or_group in expr)


def _compile_prim_mask(kind: str, arg):
    """Int-mask closure (fn(mp) -> bitmask over atoms) for one
    non-recursive primitive.  Evaluated at most once per molecule per
    distinct primitive (MolProps.aint caches by canonical key)."""
    if kind == "num":
        return lambda mp: _to_bits(mp._arrays()["anum"] == arg)
    if kind == "sym":
        z, ar = arg
        return lambda mp: _to_bits(
            (mp._arrays()["anum"] == z) & (mp._arrays()["arom"] == ar))
    if kind == "any":
        return lambda mp: (1 << mp.n) - 1
    if kind == "arom":
        return lambda mp: _to_bits(mp._arrays()["arom"] == arg)
    if kind == "hcount":
        return lambda mp: _to_bits(mp._arrays()["hcount"] == arg)
    if kind == "ring":
        return lambda mp: _to_bits(mp._arrays()["inring"] == arg)
    if kind == "rsize":
        def rsize(mp):
            bits = 0
            for i in mp.ring_sizes().get(arg, ()):
                bits |= 1 << i
            return bits
        return rsize
    if kind == "deg":
        return lambda mp: _to_bits(mp._arrays()["deg"] == arg)
    if kind == "conn":
        return lambda mp: _to_bits(mp._arrays()["conn"] == arg)
    if kind == "val":
        return lambda mp: _to_bits(mp._arrays()["val"] == arg)
    if kind == "chg":
        return lambda mp: _to_bits(mp._arrays()["charge"] == arg)
    if kind == "iso":
        return lambda mp: _to_bits(mp._arrays()["iso"] == arg)
    raise SmartsError(f"unknown primitive {kind!r}")


def _compile_atom_expr(expr: list) -> tuple[str, object]:
    """(canonical key, fn(mp) -> int bitmask over atoms)."""
    key = _expr_key(expr)
    # compile structure: [or_group][and_group] ->
    #   ([(neg, prim_key, prim_fn)], [(neg, sub_query)])
    # prim keys are stored UNnegated (negation applied in the
    # combiner), so the per-primitive cache never splits on polarity.
    compiled = []
    for or_group in expr:
        groups = []
        for and_group in or_group:
            vecs = []
            recs = []
            for neg, kind, arg in and_group:
                if kind == "rec":
                    recs.append((neg, arg))
                else:
                    vecs.append((neg, _prim_key(False, kind, arg),
                                 _compile_prim_mask(kind, arg)))
            groups.append((vecs, recs))
        compiled.append(groups)

    def fn(mp: MolProps) -> int:
        full = (1 << mp.n) - 1
        aint = mp.aint
        rec_cache = mp._rec_cache
        out = full
        for groups in compiled:                      # ';' — all hold
            acc = 0
            for vecs, recs in groups:                # ',' — any holds
                m = full
                for neg, pk, pf in vecs:
                    pm = aint(pk, pf)
                    m &= (pm ^ full) if neg else pm
                    if not m:
                        break
                if m and recs:
                    # recursive $(...) environments stay per-atom (they
                    # ARE subgraph searches) but only run on atoms that
                    # survived the vectorized part, memoized per atom
                    rem = m
                    while rem:
                        lsb = rem & -rem
                        i = lsb.bit_length() - 1
                        rem ^= lsb
                        for neg, sub in recs:
                            kk = (sub.src, i)
                            hit = rec_cache.get(kk)
                            if hit is None:
                                hit = _has_match(mp, sub, anchor=i)
                                rec_cache[kk] = hit
                            if hit == neg:
                                m ^= lsb
                                break
                acc |= m
                if acc == full:
                    break
            out &= acc
            if not out:
                break
        return out

    return key, fn


def _compile_bond_expr(expr: list | None) -> tuple[str, object]:
    if expr is None:
        return "b:~def", lambda mp: _to_bits(
            (mp._arrays()["border"] == 1.0) | mp._arrays()["barom"])
    key = "b:" + _expr_key(expr)

    def prim(kind):
        if kind == "anyb":
            return lambda mp: (1 << len(mp.border)) - 1
        if kind == "single":
            return lambda mp: _to_bits(mp._arrays()["border"] == 1.0)
        if kind == "double":
            return lambda mp: _to_bits(mp._arrays()["border"] == 2.0)
        if kind == "triple":
            return lambda mp: _to_bits(mp._arrays()["border"] == 3.0)
        if kind == "aromatic":
            return lambda mp: _to_bits(mp._arrays()["barom"])
        if kind == "ringb":
            return lambda mp: _to_bits(mp._arrays()["bring"])
        raise SmartsError(f"unknown bond primitive {kind!r}")

    compiled = [[[(neg, "b1:" + kind, prim(kind))
                  for neg, kind, _ in and_group]
                 for and_group in or_group] for or_group in expr]

    def fn(mp: MolProps) -> int:
        full = (1 << len(mp.border)) - 1
        bint = mp.bint
        out = full
        for groups in compiled:
            acc = 0
            for and_group in groups:
                m = full
                for neg, pk, pf in and_group:
                    pm = bint(pk, pf)
                    m &= (pm ^ full) if neg else pm
                acc |= m
            out &= acc
        return out

    return key, fn


# ---------------------------------------------------------------------------
# scalar reference evaluation
#
# The matcher runs on the compiled int-bitmask path above; these
# per-atom/per-bond evaluators are the independent REFERENCE semantics
# — simple, direct transcriptions of the precedence ladder — kept as
# the differential oracle the compiled path is tested against
# (tests/test_smarts.py::test_compiled_masks_match_scalar_reference).
# ---------------------------------------------------------------------------

def _eval_prim(mp: MolProps, i: int, kind: str, arg) -> bool:
    if kind == "num":
        return mp.anum[i] == arg
    if kind == "sym":
        z, ar = arg
        return mp.anum[i] == z and mp.arom[i] == ar
    if kind == "any":
        return True
    if kind == "arom":
        return mp.arom[i] == arg
    if kind == "hcount":
        return mp.hcount[i] == arg
    if kind == "ring":
        return mp.inring[i] == arg
    if kind == "rsize":
        return i in mp.ring_sizes().get(arg, ())
    if kind == "deg":
        return mp.deg[i] == arg
    if kind == "conn":
        return mp.deg[i] + mp.hcount[i] == arg
    if kind == "val":
        tot = sum(mp.border[k] for _, k in mp.nbrs[i])
        return int(round(tot)) + mp.hcount[i] == arg
    if kind == "chg":
        return mp.charge[i] == arg
    if kind == "iso":
        return mp.iso[i] == arg
    if kind == "rec":
        key = (arg.src, i)
        hit = mp._rec_cache.get(key)
        if hit is None:
            hit = _has_match(mp, arg, anchor=i)
            mp._rec_cache[key] = hit
        return hit
    raise SmartsError(f"unknown primitive {kind!r}")


def _eval_atom(mp: MolProps, i: int, expr: list) -> bool:
    for or_group in expr:
        ok = False
        for and_group in or_group:
            if all((_eval_prim(mp, i, kind, arg) != neg)
                   for neg, kind, arg in and_group):
                ok = True
                break
        if not ok:
            return False
    return True


def _eval_bond_prim(mp: MolProps, k: int, kind: str) -> bool:
    if kind == "anyb":
        return True
    if kind == "single":
        return mp.border[k] == 1.0
    if kind == "double":
        return mp.border[k] == 2.0
    if kind == "triple":
        return mp.border[k] == 3.0
    if kind == "aromatic":
        return mp.barom[k]
    if kind == "ringb":
        return mp.bring[k]
    raise SmartsError(f"unknown bond primitive {kind!r}")


def _eval_bond(mp: MolProps, k: int, expr: list | None) -> bool:
    if expr is None:                       # Daylight default
        return mp.border[k] == 1.0 or mp.barom[k]
    for or_group in expr:
        ok = False
        for and_group in or_group:
            if all((_eval_bond_prim(mp, k, kind) != neg)
                   for neg, kind, _ in and_group):
                ok = True
                break
        if not ok:
            return False
    return True


# ---------------------------------------------------------------------------
# matching
# ---------------------------------------------------------------------------

def _qmasks(mp: MolProps, q: Query) -> tuple[list[int], list[int]]:
    """Per query atom the final candidate mask (compiled expression
    mask AND the structural degree/ring screens) and per query bond
    the compiled bond mask (with the ring-closure bring requirement
    folded in), all as int bitmasks — per-query combination is a few
    int ANDs on cached per-expression masks.  Cached whole on the
    MolProps by query src — anchored recursive-environment searches
    re-enter once per molecule atom and hit the cache."""
    cached = mp._qmask_cache.get(q.src)
    if cached is not None:
        return cached
    amasks: list[int] = []
    for qi, (key, fn) in enumerate(q.atom_tests):
        bits = mp.aint(key, fn)
        if q.qdeg[qi] > 0:
            bits &= mp.deg_at_least(q.qdeg[qi])
        if q.cyc_atom[qi]:
            bits &= mp.inring_bits()
        amasks.append(bits)
    bmasks: list[int] = []
    for bk, (key, fn) in enumerate(q.bond_tests):
        bits = mp.bint(key, fn)
        if q.cyc_bond[bk]:
            bits &= mp.bring_bits()
        bmasks.append(bits)
    cached = (amasks, bmasks)
    mp._qmask_cache[q.src] = cached
    return cached


def _search(mp: MolProps, q: Query, anchor: int | None,
            first_only: bool,
            distinct_gt: int | None = None) -> list[tuple[int, ...]]:
    """All embeddings (or the first, with first_only).  With
    distinct_gt=k the search stops as soon as MORE than k distinct
    atom SETS have been seen — the MACCS count-threshold keys only
    need len(distinct) > k, not the full symmetric enumeration."""
    n_q = len(q.atom_exprs)
    amasks, bmasks = _qmasks(mp, q)
    # a query atom (or bond) with zero candidates can never embed —
    # skip the backtracker outright (common: charge/ring-constrained
    # patterns surviving the element screens)
    for am in amasks:
        if not am:
            return []
    for bm in bmasks:
        if not bm:
            return []
    mapping = [-1] * n_q
    used = 0                      # int bitmask of placed molecule atoms
    out: list[tuple[int, ...]] = []
    seen: set[frozenset[int]] = set()
    order = q.order if anchor is None else q.order_anchored
    eidx, nbrs = mp.eidx, mp.nbrs

    def rec(step: int) -> bool:
        nonlocal used
        if step == n_q:
            out.append(tuple(mapping))
            if distinct_gt is not None:
                seen.add(frozenset(mapping))
                if len(seen) > distinct_gt:
                    return True
            return first_only
        qi, edges = order[step]
        am = amasks[qi]
        if edges:
            # candidates: molecule neighbours of the first placed parent
            pj, pk = edges[0]
            cands = [j for j, _ in nbrs[mapping[pj]]]
        elif anchor is not None and step == 0:
            cands = (anchor,)
        else:
            # ascending set bits of the candidate mask (LSB-first keeps
            # the pre-bitmask enumerate order, so uniquify picks the
            # same representative per atom set)
            cands = []
            free = am
            while free:
                lsb = free & -free
                cands.append(lsb.bit_length() - 1)
                free ^= lsb
        for m in cands:
            if (used >> m) & 1 or not (am >> m) & 1:
                continue
            ok = True
            for pj, bk in edges:
                mk = eidx.get((m, mapping[pj]))
                if mk is None or not (bmasks[bk] >> mk) & 1:
                    ok = False
                    break
            if not ok:
                continue
            mapping[qi] = m
            used |= 1 << m
            if rec(step + 1):
                return True
            mapping[qi] = -1
            used ^= 1 << m
        return False

    rec(0)
    return out


def _has_match(mp: MolProps, q: Query, anchor: int | None = None) -> bool:
    return bool(_search(mp, q, anchor, first_only=True))


def substruct_matches(mol_or_props, smarts_or_query,
                      uniquify: bool = True) -> list[tuple[int, ...]]:
    """All injective embeddings of the SMARTS pattern; with uniquify
    (RDKit's default) matches covering the same atom SET are reported
    once."""
    mp = (mol_or_props if isinstance(mol_or_props, MolProps)
          else MolProps(mol_or_props))
    q = (smarts_or_query if isinstance(smarts_or_query, Query)
         else parse_smarts(smarts_or_query))
    raw = _search(mp, q, anchor=None, first_only=False)
    if not uniquify:
        return raw
    seen: set[frozenset[int]] = set()
    out = []
    for m in raw:
        key = frozenset(m)
        if key not in seen:
            seen.add(key)
            out.append(m)
    return out


def has_substruct(mol_or_props, smarts_or_query) -> bool:
    mp = (mol_or_props if isinstance(mol_or_props, MolProps)
          else MolProps(mol_or_props))
    q = (smarts_or_query if isinstance(smarts_or_query, Query)
         else parse_smarts(smarts_or_query))
    return _has_match(mp, q)


def count_substruct(mol_or_props, smarts_or_query) -> int:
    return len(substruct_matches(mol_or_props, smarts_or_query))


# ---------------------------------------------------------------------------
# cheap screen: atomic numbers a pattern REQUIRES (used by the MACCS
# evaluator to skip patterns the molecule cannot contain)
# ---------------------------------------------------------------------------

def required_anums(q: Query) -> list[int]:
    """Atomic numbers that every match must contain, one entry per
    query atom that pins a unique element in every OR branch."""
    req: list[int] = []
    for expr in q.atom_exprs:
        pinned: set[int] | None = None
        for or_group in expr:
            group_pin: set[int] = set()
            for and_group in or_group:
                z = None
                for neg, kind, arg in and_group:
                    if neg:
                        continue
                    if kind == "num":
                        z = arg
                    elif kind == "sym":
                        z = arg[0]
                if z is None:
                    group_pin = set()
                    break
                group_pin.add(z)
            if len(group_pin) == 1:
                pinned = group_pin
                break
        if pinned:
            req.append(next(iter(pinned)))
    return req


def allowed_anums(q: Query) -> list[set[int] | None]:
    """Per query atom: the set of atomic numbers a match could carry,
    or None when some OR branch leaves the element unpinned.  A
    molecule whose element set is disjoint from any non-None entry
    cannot match — the cheap whole-pattern screen for the metal /
    halogen / S / P keys."""
    out: list[set[int] | None] = []
    for expr in q.atom_exprs:
        allowed: set[int] | None = None
        for or_group in expr:                    # ';' — every group holds
            group: set[int] = set()
            open_group = False
            for and_group in or_group:           # ',' — any branch
                z = None
                for neg, kind, arg in and_group:
                    if neg:
                        continue
                    if kind == "num":
                        z = arg
                    elif kind == "sym":
                        z = arg[0]
                if z is None:
                    open_group = True
                    break
                group.add(z)
            if open_group:
                continue
            allowed = group if allowed is None else (allowed & group)
        out.append(allowed)
    return out
