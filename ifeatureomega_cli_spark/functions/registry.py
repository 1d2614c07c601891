"""Descriptor registry — replaces the reference's string-`eval` dispatch
(iFeatureOmegaCLI.py:313-323) with plain specs.

Each :class:`DescriptorSpec` carries a feature-name builder and a kernel
factory returning a batch function ``Ragged -> (n, dim) float64``.  Kernel
factories close over small numpy lookup constants; Spark broadcasts them
inside the serialized pandas UDF.

Naming convention follows the reference dispatch keys ("AAC",
"CKSAAP type 1", "Kmer type 1", ...) with a ``protein:`` / ``dna:`` /
``rna:`` namespace prefix in the unified registry.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from ifeatureomega_cli_spark import tokenize as tk
from ifeatureomega_cli_spark.functions import kernels as K
from ifeatureomega_cli_spark.functions.kernels import Ragged

AA = tk.PROTEIN_AA  # 'ACDEFGHIKLMNPQRSTVWY'
AA_ALT = tk.PROTEIN_AA_ALT  # 'ARNDCQEGHILKMFPSTWYV'
NT = tk.DNA_NT  # 'ACGT'
PGAP = tk.PROTEIN_GAP
DGAP = tk.DNA_GAP


@dataclass
class DescriptorSpec:
    name: str
    seq_type: str  # 'protein' | 'dna' | 'rna'
    make_names: Callable[[dict, int], list[str]]  # (cfg, L) -> column names
    make_kernel: Callable[[dict, int], Callable[[Ragged], np.ndarray]]  # (cfg, L) -> kernel
    equal_length: bool = False
    defaults: dict = field(default_factory=dict)
    ref: str = ""  # reference citation file:line

    def names(self, cfg: dict | None = None, L: int = 0) -> list[str]:
        return self.make_names({**self.defaults, **(cfg or {})}, L)

    def kernel(self, cfg: dict | None = None, L: int = 0):
        return self.make_kernel({**self.defaults, **(cfg or {})}, L)

    @property
    def gap(self) -> int:
        return PGAP if self.seq_type == "protein" else DGAP


DESCRIPTORS: dict[str, DescriptorSpec] = {}


def register(spec: DescriptorSpec) -> DescriptorSpec:
    key = f"{spec.seq_type}:{spec.name}"
    DESCRIPTORS[key] = spec
    return spec


def descriptor_names(seq_type: str | None = None) -> list[str]:
    if seq_type is None:
        return sorted(DESCRIPTORS)
    return sorted(k for k in DESCRIPTORS if k.startswith(seq_type + ":"))


def get_spec(name: str) -> DescriptorSpec:
    if name in DESCRIPTORS:
        return DESCRIPTORS[name]
    raise KeyError(f"unknown descriptor {name!r}; known: {sorted(DESCRIPTORS)[:10]}...")


# --------------------------------------------------------------------------
# group tables (published physicochemical classifications used by the
# reference's GAAC/CKSAAGP/GDPC/GTPC, iFeatureOmegaCLI.py:1029-1034)
# --------------------------------------------------------------------------

GAAC_GROUPS = [
    ("alphatic", "GAVLMI"),
    ("aromatic", "FYW"),
    ("postivecharge", "KRH"),
    ("negativecharge", "DE"),
    ("uncharge", "STCPNQ"),
]
GAAC_GROUPS_EGAAC = [  # EGAAC spells the keys differently (ref :1064-1070)
    ("alphaticr", "GAVLMI"),
    ("aromatic", "FYW"),
    ("postivecharger", "KRH"),
    ("negativecharger", "DE"),
    ("uncharger", "STCPNQ"),
]


def group_map(groups: list[tuple[str, str]], gap_to: int | None = None) -> np.ndarray:
    """Canonical protein token id → group index; gap → len(groups) (masked)."""
    g = np.full(len(AA) + 1, len(groups), dtype=np.int64)
    for gi, (_, members) in enumerate(groups):
        for ch in members:
            g[AA.index(ch)] = gi
    if gap_to is not None:
        g[PGAP] = gap_to
    return g


# --------------------------------------------------------------------------
# A1 family — global k-gram composition
# --------------------------------------------------------------------------


def _kmers(alpha: str, k: int) -> list[str]:
    out = [""]
    for _ in range(k):
        out = [p + c for p in out for c in alpha]
    return out


def _register_comp(
    name: str,
    seq_type: str,
    alpha: str,
    k: int,
    normalized: bool,
    prefix: str,
    gap_id: int,
    ref: str,
    joiner: str = "",
):
    vocab = len(alpha)

    def mk_names(cfg, L):
        return [f"{prefix}{joiner.join(g)}" for g in (_kmers(alpha, k))]

    def mk_kernel(cfg, L):
        def kern(r: Ragged) -> np.ndarray:
            return K.kgram_counts(r.strip(gap_id), vocab, k, normalize=normalized)

        return kern

    register(
        DescriptorSpec(name, seq_type, mk_names, mk_kernel, ref=ref)
    )


# protein compositions (ref :414-436, :510-537, :580-606)
_register_comp("AAC", "protein", AA, 1, True, "AAC_", PGAP, "iFeatureOmegaCLI.py:414-436")
_register_comp("DPC type 1", "protein", AA, 2, True, "DPC_", PGAP, "iFeatureOmegaCLI.py:510-537")
_register_comp("DPC type 2", "protein", AA, 2, False, "DPC_", PGAP, "iFeatureOmegaCLI.py:510-537")
_register_comp("TPC type 1", "protein", AA, 3, True, "TPC_", PGAP, "iFeatureOmegaCLI.py:580-606")
_register_comp("TPC type 2", "protein", AA, 3, False, "TPC_", PGAP, "iFeatureOmegaCLI.py:580-606")
# DNA composition (ref :4579-4602)
_register_comp("NAC", "dna", NT, 1, True, "NAC_", DGAP, "iFeatureOmegaCLI.py:4579-4602")


def _cksaap_names(cfg, L, alpha=AA, tag="CKSAAP"):
    pairs = [a + b for a in alpha for b in alpha]
    return [f"{tag}_{p}.gap{g}" for g in range(cfg["kspace"] + 1) for p in pairs]


def _mk_cksaap(normalized: bool, alpha: str, gap_id: int):
    vocab = len(alpha)

    def mk_kernel(cfg, L):
        ks = cfg["kspace"]

        def kern(r: Ragged) -> np.ndarray:
            return K.kspaced_pair_counts(r.strip(gap_id), vocab, ks, normalize=normalized)

        return kern

    return mk_kernel


register(
    DescriptorSpec(
        "CKSAAP type 1", "protein", _cksaap_names, _mk_cksaap(True, AA, PGAP),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:469-508",
    )
)
register(
    DescriptorSpec(
        "CKSAAP type 2", "protein", _cksaap_names, _mk_cksaap(False, AA, PGAP),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:469-508",
    )
)
register(
    DescriptorSpec(
        "CKSNAP type 1", "dna",
        lambda cfg, L: _cksaap_names(cfg, L, NT, "CKSNAP"),
        _mk_cksaap(True, NT, DGAP),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:4727-4773",
    )
)
register(
    DescriptorSpec(
        "CKSNAP type 2", "dna",
        lambda cfg, L: _cksaap_names(cfg, L, NT, "CKSNAP"),
        _mk_cksaap(False, NT, DGAP),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:4727-4773",
    )
)


def _dde_names(cfg, L):
    return [f"DDE_{a}{b}" for a in AA for b in AA]


def _mk_dde(cfg, L):
    # DDE (ref :539-578): dipeptide deviation from codon-expected mean.
    codons = {"A": 4, "C": 2, "D": 2, "E": 2, "F": 2, "G": 4, "H": 2, "I": 3,
              "K": 2, "L": 6, "M": 1, "N": 2, "P": 4, "Q": 2, "R": 6, "S": 6,
              "T": 4, "V": 4, "W": 1, "Y": 2}
    cvec = np.array([codons[a] / 61.0 for a in AA])
    tm = np.outer(cvec, cvec).reshape(-1)  # (400,)

    def kern(r: Ragged) -> np.ndarray:
        rs = r.strip(PGAP)
        f = K.kgram_counts(rs, 20, 2, normalize=True)
        nlen = np.maximum(rs.lengths.astype(np.float64) - 1.0, 1.0)
        tv = tm[None, :] * (1.0 - tm[None, :]) / nlen[:, None]
        return (f - tm[None, :]) / np.sqrt(tv)

    return kern


register(DescriptorSpec("DDE", "protein", _dde_names, _mk_dde, ref="iFeatureOmegaCLI.py:539-578"))


# --------------------------------------------------------------------------
# A6 + A1 — grouped compositions
# --------------------------------------------------------------------------


def _register_grouped_comp(name, k, normalized, prefix, sep, ref, groups=None):
    groups = groups or GAAC_GROUPS
    gmap = group_map(groups)
    keys = [g[0] for g in groups]

    def mk_names(cfg, L):
        out = [""]
        for _ in range(k):
            out = [p + (sep if p else "") + key for p in out for key in keys]
        return [f"{prefix}{c}" for c in out]

    def mk_kernel(cfg, L):
        def kern(r: Ragged) -> np.ndarray:
            return K.kgram_counts(r.strip(PGAP).remap(gmap), 5, k, normalize=normalized)

        return kern

    register(DescriptorSpec(name, "protein", mk_names, mk_kernel, ref=ref))


_register_grouped_comp("GAAC", 1, True, "GAAC_", "", "iFeatureOmegaCLI.py:1027-1058")
_register_grouped_comp("GDPC type 1", 2, True, "GDPC_", ".", "iFeatureOmegaCLI.py:1163-1207", GAAC_GROUPS_EGAAC)
_register_grouped_comp("GDPC type 2", 2, False, "GDPC_", ".", "iFeatureOmegaCLI.py:1163-1207", GAAC_GROUPS_EGAAC)
_register_grouped_comp("GTPC type 1", 3, True, "GTPC_", ".", "iFeatureOmegaCLI.py:1209-1261", GAAC_GROUPS_EGAAC)
_register_grouped_comp("GTPC type 2", 3, False, "GTPC_", ".", "iFeatureOmegaCLI.py:1209-1261", GAAC_GROUPS_EGAAC)


def _cksaagp_names(cfg, L):
    keys = [g[0] for g in GAAC_GROUPS_EGAAC]
    pairs = [a + "." + b for a in keys for b in keys]
    return [f"CKSAAGP_{p}.gap{g}" for g in range(cfg["kspace"] + 1) for p in pairs]


def _mk_cksaagp(normalized: bool):
    gmap = group_map(GAAC_GROUPS)

    def mk_kernel(cfg, L):
        ks = cfg["kspace"]

        def kern(r: Ragged) -> np.ndarray:
            return K.kspaced_pair_counts(
                r.strip(PGAP).remap(gmap), 5, ks, normalize=normalized
            )

        return kern

    return mk_kernel


register(
    DescriptorSpec(
        "CKSAAGP type 1", "protein", _cksaagp_names, _mk_cksaagp(True),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:1107-1161",
    )
)
register(
    DescriptorSpec(
        "CKSAAGP type 2", "protein", _cksaagp_names, _mk_cksaagp(False),
        defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:1107-1161",
    )
)


# --------------------------------------------------------------------------
# A3 — sliding-window compositions (equal-length)
# --------------------------------------------------------------------------


def _mk_eaac(cfg, L):
    perm = tk.perm_for(AA_ALT, gap_id=PGAP)

    def kern(r: Ragged) -> np.ndarray:
        return K.sliding_window_comp(r, 20, cfg["sliding_window"], perm=perm, denom="window")

    return kern


register(
    DescriptorSpec(
        "EAAC", "protein",
        lambda cfg, L: [
            f"EAAC_SW.{w}.{aa}"
            for w in range(1, L - cfg["sliding_window"] + 2)
            for aa in AA_ALT
        ],
        _mk_eaac, equal_length=True, defaults={"sliding_window": 5},
        ref="iFeatureOmegaCLI.py:438-467",
    )
)


def _mk_egaac(cfg, L):
    gmap = group_map(GAAC_GROUPS_EGAAC)

    def kern(r: Ragged) -> np.ndarray:
        return K.sliding_window_comp(r, 5, cfg["sliding_window"], perm=gmap, denom="window")

    return kern


register(
    DescriptorSpec(
        "EGAAC", "protein",
        lambda cfg, L: [
            f"EGAAC_SW{w}.{g}"
            for w in range(1, L - cfg["sliding_window"] + 2)
            for g, _ in GAAC_GROUPS_EGAAC
        ],
        _mk_egaac, equal_length=True, defaults={"sliding_window": 5},
        ref="iFeatureOmegaCLI.py:1060-1098",
    )
)


def _mk_enac(cfg, L):
    def kern(r: Ragged) -> np.ndarray:
        return K.sliding_window_comp(r, 4, cfg["sliding_window"], denom="window")

    return kern


register(
    DescriptorSpec(
        "ENAC", "dna",
        lambda cfg, L: [
            f"ENAC_sw.{w}.{nt}"
            for w in range(1, L - cfg["sliding_window"] + 2)
            for nt in NT
        ],
        _mk_enac, equal_length=True, defaults={"sliding_window": 5},
        ref="iFeatureOmegaCLI.py:4662-4695",
    )
)


# --------------------------------------------------------------------------
# DNA Kmer (ref :4305-4371) and ANF/binary
# --------------------------------------------------------------------------


def _mk_kmer(normalized: bool):
    def mk_kernel(cfg, L):
        k = cfg["kmer"]

        def kern(r: Ragged) -> np.ndarray:
            return K.kgram_counts(r.strip(DGAP), 4, k, normalize=normalized)

        return kern

    return mk_kernel


register(
    DescriptorSpec(
        "Kmer type 1", "dna",
        lambda cfg, L: [f"Kmer_{m}" for m in _kmers(NT, cfg["kmer"])],
        _mk_kmer(True), defaults={"kmer": 3}, ref="iFeatureOmegaCLI.py:4305-4371",
    )
)
register(
    DescriptorSpec(
        "Kmer type 2", "dna",
        lambda cfg, L: [f"Kmer_{m}" for m in _kmers(NT, cfg["kmer"])],
        _mk_kmer(False), defaults={"kmer": 3}, ref="iFeatureOmegaCLI.py:4305-4371",
    )
)


def _mk_anf(cfg, L):
    def kern(r: Ragged) -> np.ndarray:
        return K.cumulative_frequency(r)

    return kern


register(
    DescriptorSpec(
        "ANF", "dna",
        lambda cfg, L: [f"ANF_{i}" for i in range(1, L + 1)],
        _mk_anf, equal_length=True, ref="iFeatureOmegaCLI.py:4604-4627",
    )
)


def _onehot_table(order: str, alphabet: str, gap_rows: int = 1) -> np.ndarray:
    """(len(alphabet)+gap_rows, len(order)) one-hot rows; gap rows all-zero."""
    t = np.zeros((len(alphabet) + gap_rows, len(order)), dtype=np.float64)
    for i, c in enumerate(alphabet):
        j = order.find(c)
        if j >= 0:
            t[i, j] = 1.0
    return t


def _mk_binary_protein(cfg, L):
    table = _onehot_table(AA_ALT, AA)

    def kern(r: Ragged) -> np.ndarray:
        return K.positional_lookup(r, table)

    return kern


register(
    DescriptorSpec(
        "binary", "protein",
        lambda cfg, L: [f"Binary_{i}" for i in range(1, 20 * L + 1)],
        _mk_binary_protein, equal_length=True, ref="iFeatureOmegaCLI.py:608-635",
    )
)


def _mk_binary_dna(cfg, L):
    table = _onehot_table(NT, NT)

    def kern(r: Ragged) -> np.ndarray:
        return K.positional_lookup(r, table)

    return kern


register(
    DescriptorSpec(
        "binary", "dna",
        lambda cfg, L: [f"Binary_{i}" for i in range(1, 4 * L + 1)],
        _mk_binary_dna, equal_length=True, ref="iFeatureOmegaCLI.py:4697-4725",
    )
)


# --------------------------------------------------------------------------
# A2 — positional lookup descriptors (equal-length).  Lookup tables pinned
# from the reference by tools/make_lookups.py (probe method) into
# resources/*.npz; loaded lazily so the registry imports without Spark.
# --------------------------------------------------------------------------

from ifeatureomega_cli_spark.functions import lookups as LK  # noqa: E402


def _register_a2(
    name: str,
    seq_type: str,
    names_fn,
    ref: str,
    grams: int = 1,
    prop_major: bool = False,
    table_key: str | None = None,
    invalid_fill: float = 0.0,
):
    """Register a positional-lookup descriptor backed by a probed table.

    grams>1: the lookup key is the k-gram id at each position (L-k+1 blocks).
    prop_major: values laid out property-major across positions (DPCP2/TPCP2
    replicate the reference's header/value layout mismatch, ref :5069/:5081).
    """

    def mk_kernel(cfg, L):
        table = LK.a2_table(seq_type if seq_type != "rna" else "dna", table_key or name, grams)

        def kern(r: Ragged):
            if grams == 1:
                out = K.positional_lookup(r, table)
                if prop_major:
                    n = r.n
                    D = table.shape[1]
                    out = out.reshape(n, -1, D).transpose(0, 2, 1).reshape(n, -1)
                return out
            # k-gram positional lookup: compute gram ids then gather
            m = r.to_matrix()
            vocab = 4 if seq_type in ("dna", "rna") else 20
            gap = vocab  # gap/unknown sentinel
            ids = np.zeros((m.shape[0], m.shape[1] - grams + 1), dtype=np.int64)
            ok = np.ones_like(ids, dtype=bool)
            for j in range(grams):
                t = m[:, j : m.shape[1] - grams + 1 + j]
                ok &= t < vocab
                ids = ids * vocab + np.where(t < vocab, t, 0)
            gathered = table[ids]  # (n, L-k+1, D)
            gathered = np.where(ok[..., None], gathered, invalid_fill)
            if prop_major:
                gathered = gathered.transpose(0, 2, 1)
            return gathered.reshape(m.shape[0], -1)

        return kern

    register(
        DescriptorSpec(name, seq_type, names_fn, mk_kernel, equal_length=True, ref=ref)
    )


_B3_LABELS = {
    1: ["Polar", "Neutral", "Hydrophobicity"],
    2: ["Volume_range(0-2.78)", "Volumn_range(2.95-4.0)", "Volumn_range(4.03-8.08)"],
    3: ["PolarityValue(4.9-6.2)", "PolarityValue(8.0-9.2)", "PolarityValue(10.4-13.0)"],
    4: ["PolarizabilityValue(0-0.108)", "PolarizabilityValue(0.128-0.186)",
        "PolarizabilityValue(0.219-0.409)"],
    5: ["Positive", "Neutral", "Negative"],
    6: ["Helix", "Strand", "Coil"],
    7: ["Buried", "Exposed", "Intermediate"],
}
_OPF10_LABELS = ["Aromatic", "Negative", "Positive", "Polar", "Hydrophobic",
                 "Aliphatic", "Tiny", "Charged", "Small", "Proline"]
_OPF7_LABELS = ["Charge", "Hydrophobicity", "Normalized vander Waals volume",
                "Polarity", "Polariizability", "Secondary Structure",
                "Solvent Accessibility"]
_B5T1_LABELS = ["alphatic", "aromatic", "postivecharge", "negativecharge", "uncharge"]

_register_a2("binary_6bit", "protein",
             lambda cfg, L: [f"Binary6_p{i}_g{j}" for i in range(1, L + 1) for j in range(1, 7)],
             "iFeatureOmegaCLI.py:637-670")
_register_a2("binary_5bit type 1", "protein",
             lambda cfg, L: [f"Binary5_t1_p{i}_{lab}" for i in range(1, L + 1) for lab in _B5T1_LABELS],
             "iFeatureOmegaCLI.py:672-704")
_register_a2("binary_5bit type 2", "protein",
             lambda cfg, L: [f"Binary5_t2_{i}" for i in range(1, 5 * L + 1)],
             "iFeatureOmegaCLI.py:706-752")
for _t in range(1, 8):
    _register_a2(f"binary_3bit type {_t}", "protein",
                 (lambda labs: lambda cfg, L: [f"Binary3_t{labs[0]}_p{i}_g{lab}"
                                               for i in range(1, L + 1) for lab in labs[1]])((_t, _B3_LABELS[_t])),
                 "iFeatureOmegaCLI.py:754-978")
_register_a2("AESNN3", "protein",
             lambda cfg, L: [f"AESNN3_p{p}z{z}" for p in range(1, L + 1) for z in ("1", "2", "3")],
             "iFeatureOmegaCLI.py:980-1025")
_register_a2("ZScale", "protein",
             lambda cfg, L: [f"ZScale_p{p}.z{z}" for p in range(1, L + 1) for z in ("1", "2", "3", "4", "5")],
             "iFeatureOmegaCLI.py:1317-1362")
_register_a2("BLOSUM62", "protein",
             lambda cfg, L: [f"blosum62_{i}" for i in range(1, 20 * L + 1)],
             "iFeatureOmegaCLI.py:1364-1408")
def _mk_aaindex_positional(cfg, L):
    """AAIndex (ref :1263-1315) respects the `aaindex` property selection:
    per-position values of each SELECTED property (gap → 0).  The probed
    default table only covers the default 8 props, so the kernel gathers
    the selected rows from the bundled full AAindex matrix (identical
    values; verified numerically against the reference's data file)."""
    names_all, vals = LK.aaidx_matrix()
    sel = []
    for p in cfg["aaindex"].split(";"):
        if p not in names_all:  # the reference's .index(p) raises too
            raise KeyError(f"unknown AAindex accession {p!r}")
        sel.append(names_all.index(p))
    if np.isnan(vals[sel]).any():
        bad = [cfg["aaindex"].split(";")[i] for i, s in enumerate(sel)
               if np.isnan(vals[s]).any()]
        # the reference fails on NA-bearing accessions (float('NA') raises
        # in its row parse); surface that instead of emitting silent NaNs
        raise ValueError(f"AAindex accession(s) with NA entries: {bad}")
    table = np.zeros((21, len(sel)))
    table[:20, :] = vals[sel].T

    def kern(r: Ragged):
        return K.positional_lookup(r, table)

    return kern


register(DescriptorSpec(
    "AAIndex", "protein",
    lambda cfg, L: [f"AAindex_p.{p}.{prop}" for p in range(1, L + 1)
                    for prop in cfg["aaindex"].split(";")],
    _mk_aaindex_positional, equal_length=True,
    ref="iFeatureOmegaCLI.py:1263-1315",
    defaults={"aaindex": "ANDN920101;ARGP820101;ARGP820102;ARGP820103;"
                         "BEGF750101;BEGF750102;BEGF750103;BHAR880101"},
))
_register_a2("OPF_10bit", "protein",
             lambda cfg, L: [f"OPF_p{i}_{lab}" for i in range(1, L + 1) for lab in _OPF10_LABELS],
             "iFeatureOmegaCLI.py:2366-2405")
for _t in (1, 2, 3):
    _register_a2(f"OPF_7bit type {_t}", "protein",
                 (lambda t: lambda cfg, L: [f"OPF7_t{t}_p{i}_{lab}"
                                            for i in range(1, L + 1) for lab in _OPF7_LABELS])(_t),
                 "iFeatureOmegaCLI.py:2407-2519")

# DNA positional lookups
_register_a2("NCP", "dna",
             lambda cfg, L: [f"NCP_{i}" for i in range(1, 3 * L + 1)],
             "iFeatureOmegaCLI.py:4629-4660")
_register_a2("EIIP", "dna",
             lambda cfg, L: [f"EIIP_{i}" for i in range(1, L + 1)],
             "iFeatureOmegaCLI.py:4775-4806")
_register_a2("DBE", "dna",
             lambda cfg, L: [f"DBE_{i}" for i in range(1, 4 * (L - 1) + 1)],
             "iFeatureOmegaCLI.py:4890-4936", grams=2, invalid_fill=0.5)

_DI_DNA_DEFAULT = "Twist;Tilt;Roll;Shift;Slide;Rise"  # parameters/DNA_parameters_setting.json


def _dpcp2_names(cfg, L):
    props = cfg["Di-DNA-Phychem"].split(";")
    return [f"DPCP2_{p}_pos{i}" for i in range(1, L) for p in props]


def _mk_pcp2_dna(fname: str, cfg_key: str, grams: int):
    """DPCP/TPCP type2 kernels that HONOR the property selection (ref
    :5042-5092 / :5150-5196 iterate the user's property_name list) — the
    round-3 registry arity audit caught the previous probed-table version
    ignoring the cfg like the AAIndex bug.  Gap-containing k-grams → 0."""

    def mk(cfg, L):
        _, v = _phyche(fname, cfg[cfg_key].split(";"))
        table = v.T  # (4^grams, P)

        def kern(r: Ragged):
            m = r.to_matrix()
            W = m.shape[1] - grams + 1
            ids = np.zeros((m.shape[0], W), dtype=np.int64)
            ok = np.ones_like(ids, dtype=bool)
            for j in range(grams):
                t = m[:, j: W + j]
                ok &= t < 4
                ids = ids * 4 + np.where(t < 4, t, 0)
            g = table[ids]
            g = np.where(ok[..., None], g, 0.0)
            return g.transpose(0, 2, 1).reshape(m.shape[0], -1)  # prop-major

        return kern

    return mk


register(DescriptorSpec(
    "DPCP type2", "dna", _dpcp2_names,
    _mk_pcp2_dna("didnaPhyche", "Di-DNA-Phychem", 2), equal_length=True,
    defaults={"Di-DNA-Phychem": _DI_DNA_DEFAULT},
    ref="iFeatureOmegaCLI.py:5042-5092",
))


def _tpcp2_names(cfg, L):
    props = cfg["Tri-DNA-Phychem"].split(";")
    return [f"TPCP2_{p}_pos{i}" for i in range(1, L - 1) for p in props]


register(DescriptorSpec(
    "TPCP type2", "dna", _tpcp2_names,
    _mk_pcp2_dna("tridnaPhyche", "Tri-DNA-Phychem", 3), equal_length=True,
    defaults={"Tri-DNA-Phychem": "Dnase I;Bendability (DNAse)"},
    ref="iFeatureOmegaCLI.py:5150-5196",
))


def _register_ps(k: int):
    """PS2/PS3/PS4 (ref :5271-5362): positional one-hot of k-grams."""
    dim = 4**k

    def mk_kernel(cfg, L):
        table = np.eye(dim, dtype=np.float64)

        def kern(r: Ragged):
            m = r.to_matrix()
            ids = np.zeros((m.shape[0], m.shape[1] - k + 1), dtype=np.int64)
            ok = np.ones_like(ids, dtype=bool)
            for j in range(k):
                t = m[:, j : m.shape[1] - k + 1 + j]
                ok &= t < 4
                ids = ids * 4 + np.where(t < 4, t, 0)
            out = table[ids]
            out = np.where(ok[..., None], out, 0.0)
            return out.reshape(m.shape[0], -1)

        return kern

    register(DescriptorSpec(
        f"PS{k}", "dna",
        lambda cfg, L: [f"PS{k}_{i}" for i in range(1, dim * (L - k + 1) + 1)],
        mk_kernel, equal_length=True, ref="iFeatureOmegaCLI.py:5271-5362",
    ))


for _k in (2, 3, 4):
    _register_ps(_k)


# --------------------------------------------------------------------------
# A4 — lagged autocorrelation / covariance descriptors
# --------------------------------------------------------------------------

import json as _json  # noqa: E402
import os as _os  # noqa: E402


def _znorm_rows(v: np.ndarray) -> np.ndarray:
    return (v - v.mean(axis=1, keepdims=True)) / v.std(axis=1, keepdims=True)


def _aaidx_props(prop_names: list[str]) -> np.ndarray:
    """(n_props, 21) z-normalized AAidx.txt property rows in canonical token
    order; gap column 0 (stripped before use anyway)."""
    names, vals = LK.aaidx_matrix()  # canonical order already
    idx = [names.index(p) for p in prop_names]
    v = _znorm_rows(vals[idx].astype(np.float64))
    return np.hstack([v, np.zeros((len(idx), 1))])


def _aaindex_pickle_props(prop_names: list[str]) -> np.ndarray:
    """(n_props, 21) z-normalized AAindex.data property rows (canonical order)."""
    import numpy as _np

    z = LK._npz("phyche_AAindex.npz")["values"]
    names = LK._json("phyche_AAindex_names.json")
    alt = AA_ALT
    perm = [alt.index(c) for c in AA]
    idx = [names.index(p) for p in prop_names]
    v = z[idx][:, perm]
    v = _znorm_rows(v.astype(_np.float64))
    return _np.hstack([v, _np.zeros((len(idx), 1))])


def _register_autocorr(name: str, kind: str, prop_src, header_fn, ref: str):
    """kind: 'broto' | 'moran' | 'geary' | 'ac'."""

    def mk_names(cfg, L):
        return header_fn(cfg)

    def mk_kernel(cfg, L):
        props = cfg["aaindex"].split(";")
        nlag = cfg["nlag"]
        table = prop_src(props)  # (P, 21)

        need = {"broto": ("raw",), "ac": ("cen",),
                "moran": ("cen", "ssq"), "geary": ("diffsq", "ssq")}[kind]

        def kern(r: Ragged):
            rs = r.strip(PGAP)
            ws = K.LagWorkspace(rs, nlag)
            blocks = []
            for p in range(table.shape[0]):
                x = table[p][rs.flat]
                st = ws.stats(x, need)
                if kind == "broto":
                    v = st["raw"]
                elif kind == "ac":
                    v = st["cen"]
                elif kind == "moran":
                    v = st["cen"] / np.where(st["ssq"] == 0, 1.0,
                                             st["ssq"] / st["lengths"])[:, None]
                elif kind == "geary":
                    Nl = st["lengths"][:, None]
                    d = np.arange(1, nlag + 1)[None, :]
                    v = ((Nl - 1.0) / (2.0 * (Nl - d))) * st["diffsq"] / np.where(
                        st["ssq"] == 0, 1.0, st["ssq"])[:, None]
                # rows shorter than nlag+1 are NaN in the reference ('NA')
                short = st["lengths"] <= nlag
                if kind in ("broto", "moran", "geary"):
                    v = np.where(short[:, None], np.nan, v)
                blocks.append(v)
            return np.concatenate(blocks, axis=1)

        return kern

    register(DescriptorSpec(
        name, "protein", mk_names, mk_kernel, ref=ref,
        defaults={"aaindex": "ANDN920101;ARGP820101;ARGP820102;ARGP820103;"
                             "BEGF750101;BEGF750102;BEGF750103;BHAR880101", "nlag": 3},
    ))


def _lag_header(tag: str, sep: str = ".lag"):
    def h(cfg):
        return [f"{tag}_{p}{sep}{n}" for p in cfg["aaindex"].split(";")
                for n in range(1, cfg["nlag"] + 1)]

    return h


_register_autocorr("NMBroto", "broto", _aaidx_props, _lag_header("NMBroto"),
                   "iFeatureOmegaCLI.py:1410-1467")
_register_autocorr("Moran", "moran", _aaidx_props, _lag_header("Moran"),
                   "iFeatureOmegaCLI.py:1469-1530")
_register_autocorr("Geary", "geary", _aaidx_props, _lag_header("Geary"),
                   "iFeatureOmegaCLI.py:1532-1592")
_register_autocorr("AC", "ac", _aaindex_pickle_props, _lag_header("AC"),
                   "iFeatureOmegaCLI.py:1602-1650")


def _prop_pairs(props: list[str]) -> list[tuple[str, str]]:
    # ref generatePropertyPairs (:1594-1600): (i,j) then (j,i) for i<j
    out = []
    for i in range(len(props)):
        for j in range(i + 1, len(props)):
            out.append((props[i], props[j]))
            out.append((props[j], props[i]))
    return out


def _mk_cc_kernel(cfg, L):
    props = cfg["aaindex"].split(";")
    nlag = cfg["nlag"]
    table = _aaindex_pickle_props(props)
    pairs = [(props.index(a), props.index(b)) for a, b in _prop_pairs(props)]

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        series = [table[p][rs.flat] for p in range(len(props))]
        return np.concatenate(
            [K.cross_cov(series[a], series[b], rs, nlag) for a, b in pairs], axis=1
        )

    return kern


register(DescriptorSpec(
    "CC", "protein",
    lambda cfg, L: [f"CC_{a}_{b}_lag.{n}" for a, b in _prop_pairs(cfg["aaindex"].split(";"))
                    for n in range(1, cfg["nlag"] + 1)],
    _mk_cc_kernel, ref="iFeatureOmegaCLI.py:1652-1703",
    defaults=DESCRIPTORS["protein:AC"].defaults,
))


def _mk_acc_kernel(cfg, L):
    ac_k = DESCRIPTORS["protein:AC"].make_kernel(cfg, L)
    cc_k = _mk_cc_kernel(cfg, L)

    def kern(r: Ragged):
        return np.concatenate([ac_k(r), cc_k(r)], axis=1)

    return kern


register(DescriptorSpec(
    "ACC", "protein",
    lambda cfg, L: (
        [f"ACC_{p}.lag{n}" for p in cfg["aaindex"].split(";")
         for n in range(1, cfg["nlag"] + 1)]
        + [f"ACC_{a}_{b}_lag.{n}" for a, b in _prop_pairs(cfg["aaindex"].split(";"))
           for n in range(1, cfg["nlag"] + 1)]
    ),
    _mk_acc_kernel, ref="iFeatureOmegaCLI.py:1705-1770",
    defaults=DESCRIPTORS["protein:AC"].defaults,
))


# --------------------------------------------------------------------------
# CTD family (A6+A1 / A7) — group table probed into resources/ctd_groups.npz
# --------------------------------------------------------------------------

CTD_PROPS = [
    "hydrophobicity_PRAM900101", "hydrophobicity_ARGP820101",
    "hydrophobicity_ZIMJ680101", "hydrophobicity_PONP930101",
    "hydrophobicity_CASG920101", "hydrophobicity_ENGD860101",
    "hydrophobicity_FASG890101", "normwaalsvolume", "polarity",
    "polarizability", "charge", "secondarystruct", "solventaccess",
]


def _ctd_groups() -> np.ndarray:
    return LK._npz("ctd_groups.npz")["groups"]  # (13, 21) ints 0..2


def _mk_ctdc(cfg, L):
    groups = _ctd_groups()

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        rid = rs.row_ids()
        den = np.maximum(rs.lengths, 1).astype(np.float64)[:, None]
        out = np.empty((rs.n, 13 * 3))
        for p in range(13):
            # direct segmented bincount on the remapped ids — no per-property
            # Ragged twin, one shared row-id array for all 13 properties
            g = groups[p][rs.flat]
            c = np.bincount(rid * 3 + g, minlength=rs.n * 3).reshape(rs.n, 3)
            block = out[:, p * 3:(p + 1) * 3]
            np.divide(c, den, out=block)
            # reference computes c3 = 1 - c1 - c2 (ref :1844); with a full
            # partition of the alphabet that equals the direct frequency
            block[:, 2] = 1.0 - block[:, 0] - block[:, 1]
        return out

    return kern


register(DescriptorSpec(
    "CTDC", "protein",
    lambda cfg, L: [f"CTDC_{p}.G{g}" for p in CTD_PROPS for g in (1, 2, 3)],
    _mk_ctdc, ref="iFeatureOmegaCLI.py:1778-1851",
))


def _mk_ctdt(cfg, L):
    groups = _ctd_groups().astype(np.uint8)

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        n = rs.n
        # pair j = (j, j + 1) over the slices; class 9 marks the cross-row
        # pairs, which no transition reads
        base = rs.row_ids()[:-1] * 10
        cross = rs.cross_row(1)
        npairs = np.maximum(rs.lengths - 1, 1).astype(np.float64)
        out = np.empty((n, 13 * 3))
        for p in range(13):
            g = groups[p][rs.flat]
            cls = g[:-1] * 3 + g[1:]
            cls[cross] = 9
            c = np.bincount(base + cls, minlength=n * 10).reshape(n, 10)
            # Tr1221, Tr1331, Tr2332: classes (0,1)+(1,0), (0,2)+(2,0), (1,2)+(2,1)
            out[:, 3 * p] = (c[:, 1] + c[:, 3]) / npairs
            out[:, 3 * p + 1] = (c[:, 2] + c[:, 6]) / npairs
            out[:, 3 * p + 2] = (c[:, 5] + c[:, 7]) / npairs
        return out

    return kern


register(DescriptorSpec(
    "CTDT", "protein",
    lambda cfg, L: [f"CTDT_{p}.{tr}" for p in CTD_PROPS
                    for tr in ("Tr1221", "Tr1331", "Tr2332")],
    _mk_ctdt, ref="iFeatureOmegaCLI.py:1853-1937",
))


def _mk_ctdd(cfg, L):
    groups = _ctd_groups().astype(np.uint8)
    quarters = np.array([0.25, 0.50, 0.75])

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        n, N = rs.n, len(rs.flat)
        rid3 = rs.row_ids() * 3
        # 1-based position in the row, with a trailing 0 that the cutoffs
        # of a (row, group) without members point at
        pos1 = np.zeros(N + 1, dtype=np.int64)
        pos1[:N] = np.arange(1, N + 1) - np.repeat(rs.offsets[:-1], rs.lengths)
        Lrow = np.maximum(rs.lengths, 1).astype(np.float64)[:, None, None]
        out = np.empty((n, 13, 3, 5))
        for p in range(13):
            g = groups[p][rs.flat]
            # a stable sort of a uint8 key is numpy's radix sort: positions
            # grouped by group, each group in flat (= row-major) order, so
            # (group, row) blocks start at the exclusive cumsum of the
            # group-major counts
            order = np.append(np.argsort(g, kind="stable"), N)
            cnt = np.bincount(rid3 + g, minlength=n * 3).reshape(n, 3)
            cnt_gm = cnt.T.ravel()
            start = (np.cumsum(cnt_gm) - cnt_gm).reshape(3, n).T
            # cutoffs (ref Count1 :1939-1958): 1st, floor(q·cnt) (min 1), last
            tgt = np.empty((n, 3, 5), dtype=np.int64)
            tgt[..., 0] = 1
            tgt[..., 1:4] = np.maximum(
                np.floor(cnt[..., None] * quarters).astype(np.int64), 1)
            tgt[..., 4] = cnt
            idx = np.where(cnt[..., None] > 0, start[..., None] + tgt - 1, N)
            out[:, p] = pos1[order[idx]] / Lrow * 100.0
        return out.reshape(n, 13 * 15)

    return kern


register(DescriptorSpec(
    "CTDD", "protein",
    lambda cfg, L: [f"CTDD_{p}.{g}.residue{d}" for p in CTD_PROPS
                    for g in (1, 2, 3) for d in (0, 25, 50, 75, 100)],
    _mk_ctdd, ref="iFeatureOmegaCLI.py:1939-2032",
))


# --------------------------------------------------------------------------
# CTriad / KSCTriad (A6+A1 with per-gap min-max scaling, ref :2034-2129)
# --------------------------------------------------------------------------

CTRIAD_GROUPS = [("g1", "AGV"), ("g2", "ILFP"), ("g3", "YMTS"), ("g4", "HNQW"),
                 ("g5", "RK"), ("g6", "DE"), ("g7", "C")]


def _mk_ksctriad(max_gap_fn, tag):
    gmap = group_map(CTRIAD_GROUPS)

    def mk_kernel(cfg, L):
        gaps = max_gap_fn(cfg)

        def kern(r: Ragged):
            rs = r.strip(PGAP).remap(gmap)
            blocks = []
            for g in range(gaps + 1):
                c = K.kgram_counts(rs, 7, 3, normalize=False, gap=g)
                mn = c.min(axis=1, keepdims=True)
                mx = c.max(axis=1, keepdims=True)
                blocks.append((c - mn) / np.where(mx == 0, 1.0, mx))
            return np.concatenate(blocks, axis=1)

        return kern

    return mk_kernel


_TRIAD_FEATS = [f"{a}.{b}.{c}" for a in [g[0] for g in CTRIAD_GROUPS]
                for b in [g[0] for g in CTRIAD_GROUPS]
                for c in [g[0] for g in CTRIAD_GROUPS]]

register(DescriptorSpec(
    "CTriad", "protein",
    lambda cfg, L: [f"CTriad_{f}" for f in _TRIAD_FEATS],
    _mk_ksctriad(lambda cfg: 0, "CTriad"), ref="iFeatureOmegaCLI.py:2034-2087",
))
register(DescriptorSpec(
    "KSCTriad", "protein",
    lambda cfg, L: [f"KSCTriad_{f}.gap{g}" for g in range(cfg["kspace"] + 1)
                    for f in _TRIAD_FEATS],
    _mk_ksctriad(lambda cfg: cfg["kspace"], "KSCTriad"),
    defaults={"kspace": 3}, ref="iFeatureOmegaCLI.py:2089-2129",
))


# --------------------------------------------------------------------------
# SOCNumber / QSOrder / PAAC / APAAC (A4/A5, ref :2131-2364)
# --------------------------------------------------------------------------


def _dist_matrices():
    """(schneider, grantham) 20×20 squared-distance matrices in canonical
    token order, parsed from packaged data files."""
    sw = LK.matrix_file("Schneider-Wrede.txt", "ACDEFGHIKLMNPQRSTVWY")
    gm = LK.matrix_file("Grantham.txt", AA_ALT)
    return sw, gm


def _pair_lag_sum(rs: Ragged, M: np.ndarray, nlag: int, mean: bool) -> np.ndarray:
    """Σ_j M[s_j, s_{j+n}] per row for n=1..nlag (optionally / (L-n)).

    Cross-row pairs weigh 0.0 and x + 0.0 == x, so each row's sum keeps
    the bits of the sum over its in-row pairs alone."""
    out = np.zeros((rs.n, nlag))
    rid = rs.row_ids()
    for d in range(1, nlag + 1):
        w = M[rs.flat[:-d], rs.flat[d:]]
        w[rs.cross_row(d)] = 0.0
        s = np.bincount(rid[:-d], weights=w, minlength=rs.n)
        if mean:
            s = s / np.maximum(rs.lengths - d, 1.0)
        out[:, d - 1] = s
    return out


def _series_theta(rs: Ragged, outers: list[np.ndarray], lam: int) -> np.ndarray:
    """Per-property mean lag products, ordered lag-major then property
    (ref :2348-2352): (n, lam·len(outers))."""
    return np.stack([_pair_lag_sum(rs, o, lam, mean=True) for o in outers],
                    axis=2).reshape(rs.n, -1)


def _mk_socnumber(cfg, L):
    sw, gm = _dist_matrices()
    nlag = cfg["nlag"]

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        return np.concatenate([
            _pair_lag_sum(rs, sw**2, nlag, mean=True),
            _pair_lag_sum(rs, gm**2, nlag, mean=True),
        ], axis=1)

    return kern


register(DescriptorSpec(
    "SOCNumber", "protein",
    lambda cfg, L: ([f"SOCNumber_Schneider.lag{n}" for n in range(1, cfg["nlag"] + 1)]
                    + [f"SOCNumber_gGrantham.lag{n}" for n in range(1, cfg["nlag"] + 1)]),
    _mk_socnumber, defaults={"nlag": 3}, ref="iFeatureOmegaCLI.py:2131-2178",
))


def _mk_qsorder(cfg, L):
    sw, gm = _dist_matrices()
    nlag, w = cfg["nlag"], cfg["weight"]
    perm = tk.perm_for(AA_ALT, gap_id=PGAP)

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        tau_sw = _pair_lag_sum(rs, sw**2, nlag, mean=False)
        tau_gm = _pair_lag_sum(rs, gm**2, nlag, mean=False)
        counts = K.unigram_counts(rs.remap(perm), 20, normalize=False)
        den_sw = 1.0 + w * tau_sw.sum(axis=1, keepdims=True)
        den_gm = 1.0 + w * tau_gm.sum(axis=1, keepdims=True)
        return np.concatenate([
            counts / den_sw, counts / den_gm,
            w * tau_sw / den_sw, w * tau_gm / den_gm,
        ], axis=1)

    return kern


register(DescriptorSpec(
    "QSOrder", "protein",
    lambda cfg, L: ([f"QSOrder_Schneider.Xr.{a}" for a in AA_ALT]
                    + [f"QSOrder_Grantham.Xr.{a}" for a in AA_ALT]
                    + [f"QSOrder_Schneider.Xd.{n}" for n in range(1, cfg["nlag"] + 1)]
                    + [f"QSOrder_Grantham.Xd.{n}" for n in range(1, cfg["nlag"] + 1)]),
    _mk_qsorder, defaults={"nlag": 3, "weight": 0.05},
    ref="iFeatureOmegaCLI.py:2180-2251",
))


def _paac_props(n_props: int | None = None):
    """PAAC.txt property rows z-normalized (population std over the 20 AAs),
    permuted to canonical token order.  Returns (names, (P, 20))."""
    header, names, v = LK.paac_table()
    names = list(names)
    v = v.copy()
    if n_props is not None:
        v = v[:n_props]
        names = names[:n_props]
    v = (v - v.mean(axis=1, keepdims=True)) / np.sqrt(
        ((v - v.mean(axis=1, keepdims=True)) ** 2).mean(axis=1, keepdims=True))
    perm = [header.index(c) for c in AA]
    return names, v[:, perm]


def _mk_paac(cfg, L):
    lam, w = cfg["lambdaValue"], cfg["weight"]
    _, props = _paac_props()
    # Rvalue (ref :2253-2254): mean over props of (P[a]-P[b])^2
    R = ((props[:, :, None] - props[:, None, :]) ** 2).mean(axis=0)
    perm = tk.perm_for(AA_ALT, gap_id=PGAP)

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        theta = _pair_lag_sum(rs, R, lam, mean=True)  # (n, lam)
        counts = K.unigram_counts(rs.remap(perm), 20, normalize=False)
        den = 1.0 + w * theta.sum(axis=1, keepdims=True)
        return np.concatenate([counts / den, w * theta / den], axis=1)

    return kern


register(DescriptorSpec(
    "PAAC", "protein",
    lambda cfg, L: ([f"PAAC_Xc1.{a}" for a in AA_ALT]
                    + [f"PAAC_Xc2.lambda{n}" for n in range(1, cfg["lambdaValue"] + 1)]),
    _mk_paac, defaults={"lambdaValue": 3, "weight": 0.05},
    ref="iFeatureOmegaCLI.py:2253-2308",
))


def _mk_apaac(cfg, L):
    lam, w = cfg["lambdaValue"], cfg["weight"]
    names, props = _paac_props(n_props=2)  # ref :2327 uses rows [1, len-1)
    perm = tk.perm_for(AA_ALT, gap_id=PGAP)
    outer = [np.outer(props[p], props[p]) for p in range(props.shape[0])]

    def kern(r: Ragged):
        rs = r.strip(PGAP)
        theta = _series_theta(rs, outer, lam)
        counts = K.unigram_counts(rs.remap(perm), 20, normalize=False)
        den = 1.0 + w * theta.sum(axis=1, keepdims=True)
        return np.concatenate([counts / den, w * theta / den], axis=1)

    return kern


register(DescriptorSpec(
    "APAAC", "protein",
    lambda cfg, L: ([f"APAAC_Pc1.{a}" for a in AA_ALT]
                    + [f"APAAC_Pc2.{p}.{n}" for n in range(1, cfg["lambdaValue"] + 1)
                       for p in _paac_props(2)[0]]),
    _mk_apaac, defaults={"lambdaValue": 3, "weight": 0.05},
    ref="iFeatureOmegaCLI.py:2310-2364",
))


# --------------------------------------------------------------------------
# ASDC (ref :2521-2552): all-pairs (j<k) skip-dipeptide composition.
# O(L²) reference loop → O(L·20) suffix-count accumulation.
# --------------------------------------------------------------------------


def _mk_asdc_factory(vocab: int, gap_id: int, seq_type: str):
    def mk_kernel(cfg, L):
        def kern(r: Ragged):
            rs = r.strip(gap_id)
            n = rs.n
            C = np.zeros((n, vocab, vocab))
            rid = rs.row_ids()
            # suffix counts: for each flat position j, counts of each token
            # strictly after j within the row
            oh = np.zeros((len(rs.flat), vocab))
            oh[np.arange(len(rs.flat)), rs.flat] = 1.0
            csum = np.cumsum(oh, axis=0)
            # csum is a GLOBAL cumulative; row-end minus current position
            # cancels everything before the row, leaving counts strictly
            # after position j within its row
            ends = csum[np.maximum(rs.offsets[1:] - 1, 0)]
            suffix = ends[rid] - csum
            np.add.at(C, (rid, rs.flat), suffix)
            C = C.reshape(n, vocab * vocab)
            tot = C.sum(axis=1, keepdims=True)
            return C / np.where(tot == 0, 1.0, tot)

        return kern

    return mk_kernel


register(DescriptorSpec(
    "ASDC", "protein",
    lambda cfg, L: [f"ASDC_{a}{b}" for a in AA for b in AA],
    _mk_asdc_factory(20, PGAP, "protein"), ref="iFeatureOmegaCLI.py:2521-2552",
))
register(DescriptorSpec(
    "ASDC", "dna",
    lambda cfg, L: [f"ASDC_{a}{b}" for a in NT for b in NT],
    _mk_asdc_factory(4, DGAP, "dna"), ref="iFeatureOmegaCLI.py:4855-4888",
))


# --------------------------------------------------------------------------
# DNA descriptor batch: Mismatch, Subsequence, RCKmer, PseEIIP, LPDF,
# DPCP/TPCP, MMI, Z-curves, dinucleotide autocorrelations, Pse* family
# --------------------------------------------------------------------------


def _phyche(fname: str, prop_names: list[str] | None = None, znorm: bool = False):
    """Property matrix (P, 4^k) from a pickled-phyche npz resource."""
    z = LK._npz(f"phyche_{fname}.npz")["values"]
    names = LK._json(f"phyche_{fname}_names.json")
    if prop_names is None:
        idx = list(range(len(names)))
        sel = names
    else:
        idx = [names.index(p) for p in prop_names]
        sel = prop_names
    v = z[idx].astype(np.float64)
    if znorm:
        v = (v - v.mean(axis=1, keepdims=True)) / v.std(axis=1, keepdims=True)
    return sel, v


def _mk_mismatch(cfg, L):
    k, m = cfg["kmer"], cfg["mismatch"]
    dim = 4**k
    # Hamming-ball matrix B[g, t] = 1 iff dist(g, t) <= m (ref :4373-4412)
    digs = np.array([[(g // 4**(k - 1 - j)) % 4 for j in range(k)] for g in range(dim)])
    dist = (digs[:, None, :] != digs[None, :, :]).sum(axis=2)
    B = (dist <= m).astype(np.float64)

    def kern(r: Ragged):
        c = K.kgram_counts(r.strip(DGAP), 4, k, normalize=False)
        return c @ B

    return kern


register(DescriptorSpec(
    "Mismatch", "dna",
    lambda cfg, L: [f"Mismatch_{g}" for g in _kmers(NT, cfg["kmer"])],
    _mk_mismatch, defaults={"kmer": 3, "mismatch": 1},
    ref="iFeatureOmegaCLI.py:4373-4412",
))


def _mk_subsequence(cfg, L):
    k, delta = cfg["kmer"], cfg["delta"]
    dim = 4**k

    def kern(r: Ragged):
        # δ=0: only contiguous subsequences score (1); = raw k-gram counts.
        # General δ: DP over positions maintaining weighted prefix states.
        # NOTE: tokens are NOT gap-stripped (ref :4466 uses elem[1] raw) but
        # gap k-mers aren't in the dict → contribute nothing.
        if delta == 0.0:
            c = K.kgram_counts(r, 4, k, normalize=False)
            # ref bug (:4449-4452): kmerdict.get(gap-kmer) → None and
            # vector[0, None] += score adds to the whole row; with δ=0 only
            # contiguous (span==k) gap k-mers score 1
            valid = K._valid_gram_mask(r, k)
            idx = np.nonzero(valid)[0]
            bad = np.zeros(len(idx), dtype=bool)
            for j in range(k):
                bad |= r.flat[idx + j] >= 4
            gapcnt = np.bincount(r.row_ids()[idx[bad]], minlength=r.n).astype(np.float64)
            return c + gapcnt[:, None]
        # general δ: batch-vectorized positional DP over weighted prefix
        # carries — O(L·4^k) per row, replaces the combinatorial
        # itertools.combinations enumeration of the reference (:4438-4447);
        # replicates the gap-kmer broadcast bug for δ>0 too
        return K.subsequence_profile(r, 4, k, delta)

    return kern


register(DescriptorSpec(
    "Subsequence", "dna",
    lambda cfg, L: [f"Subsequence_{g}" for g in _kmers(NT, cfg["kmer"])],
    _mk_subsequence, defaults={"kmer": 3, "delta": 0.0},
    ref="iFeatureOmegaCLI.py:4415-4474",
))


def _rc_canonical(k: int):
    """gram id -> (canonical index, names) for reverse-complement kmers."""
    dim = 4**k
    comp = np.array([3, 2, 1, 0])  # A<->T, C<->G in ACGT ids

    def digits(g):
        return [(g // 4**(k - 1 - j)) % 4 for j in range(k)]

    def gid(ds):
        v = 0
        for d in ds:
            v = v * 4 + int(d)
        return v

    canon = np.zeros(dim, dtype=np.int64)
    for g in range(dim):
        rc = gid(comp[digits(g)][::-1])
        canon[g] = min(g, rc)
    uniq = sorted(set(canon.tolist()))
    rank = {g: i for i, g in enumerate(uniq)}
    mapping = np.array([rank[c] for c in canon])
    names = ["".join(NT[d] for d in digits(g)) for g in uniq]
    return mapping, names


def _mk_rckmer(normalized: bool):
    def mk_kernel(cfg, L):
        k = cfg["kmer"]
        mapping, _ = _rc_canonical(k)
        ncanon = mapping.max() + 1

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            ids, rid = K.kgram_ids(rs, 4, k)
            c = np.bincount(rid * ncanon + mapping[ids],
                            minlength=rs.n * ncanon).reshape(rs.n, ncanon).astype(np.float64)
            if normalized:
                tot = c.sum(axis=1, keepdims=True)
                c = c / np.where(tot == 0, 1.0, tot)
            return c

        return kern

    return mk_kernel


register(DescriptorSpec(
    "RCKmer type 1", "dna", lambda cfg, L: _rc_canonical(cfg["kmer"])[1],
    _mk_rckmer(True), defaults={"kmer": 3}, ref="iFeatureOmegaCLI.py:4478-4577",
))
register(DescriptorSpec(
    "RCKmer type 2", "dna", lambda cfg, L: _rc_canonical(cfg["kmer"])[1],
    _mk_rckmer(False), defaults={"kmer": 3}, ref="iFeatureOmegaCLI.py:4478-4577",
))

def _mk_pseeiip(cfg, L):
    eiip = LK.a2_table("dna", "EIIP", 1)[:4, 0]  # per-NT EIIP from probe
    tri_w = (eiip[:, None, None] + eiip[None, :, None] + eiip[None, None, :]).reshape(-1)

    def kern(r: Ragged):
        f = K.kgram_counts(r.strip(DGAP), 4, 3, normalize=True)
        return f * tri_w[None, :]

    return kern


register(DescriptorSpec(
    "PseEIIP", "dna",
    lambda cfg, L: [f"PseEIIP_{g}" for g in _kmers(NT, 3)],
    _mk_pseeiip, ref="iFeatureOmegaCLI.py:4808-4853",
))


def _mk_lpdf(cfg, L):
    def kern(r: Ragged):
        m = r.to_matrix()
        # reversed digram over the 5-symbol alphabet incl. gap (ref :4952-4977)
        d = m[:, 1:] * 5 + m[:, :-1]
        return K.running_count_frequency(d)

    return kern


register(DescriptorSpec(
    "LPDF", "dna",
    lambda cfg, L: [f"LPDF_{i}" for i in range(1, L)],
    _mk_lpdf, equal_length=True, ref="iFeatureOmegaCLI.py:4938-4988",
))


def _mk_dpcp(cfg, L):
    sel, v = _phyche("didnaPhyche", cfg["Di-DNA-Phychem"].split(";"))

    def kern(r: Ragged):
        f = K.kgram_counts(r.strip(DGAP), 4, 2, normalize=True)
        return (f[:, None, :] * v[None, :, :]).reshape(r.n, -1)

    return kern


register(DescriptorSpec(
    "DPCP", "dna",
    lambda cfg, L: [f"DPCP_{a}{b}_{p}" for p in cfg["Di-DNA-Phychem"].split(";")
                    for a in NT for b in NT],
    _mk_dpcp, defaults={"Di-DNA-Phychem": _DI_DNA_DEFAULT},
    ref="iFeatureOmegaCLI.py:4990-5040",
))


def _mk_tpcp(cfg, L):
    # quirk to replicate: ref :5103 overwrites the selection with ALL keys
    sel, v = _phyche("tridnaPhyche", None)

    def kern(r: Ragged):
        f = K.kgram_counts(r.strip(DGAP), 4, 3, normalize=True)
        return (f[:, None, :] * v[None, :, :]).reshape(r.n, -1)

    return kern


register(DescriptorSpec(
    "TPCP", "dna",
    lambda cfg, L: [f"TPCP_{g}_{p}" for p in _phyche("tridnaPhyche", None)[0]
                    for g in _kmers(NT, 3)],
    _mk_tpcp, ref="iFeatureOmegaCLI.py:5094-5148",
))


def _sorted_class_map(k: int):
    """gram id -> index of its sorted-digit class among sorted class strings."""
    dim = 4**k
    classes = {}
    mapping = np.zeros(dim, dtype=np.int64)
    strs = []
    for g in range(dim):
        ds = sorted((g // 4**(k - 1 - j)) % 4 for j in range(k))
        s = "".join(NT[d] for d in ds)
        strs.append(s)
    uniq = sorted(set(strs))
    rank = {s: i for i, s in enumerate(uniq)}
    for g in range(dim):
        mapping[g] = rank[strs[g]]
    return mapping, uniq


def _mk_mmi(cfg, L):
    map2, cls2 = _sorted_class_map(2)
    map3, cls3 = _sorted_class_map(3)
    # per sorted-class component digrams for the f3 terms
    c3_parts = []
    for s in cls3:
        c3_parts.append((
            cls2.index("".join(sorted(s[0:2]))),
            cls2.index("".join(sorted(s[0] + s[2]))),
            cls2.index("".join(sorted(s[1:3]))),
            NT.index(s[0]), NT.index(s[1]), NT.index(s[2]),
        ))
    c3_parts = np.array(c3_parts)

    def kern(r: Ragged):
        rs = r.strip(DGAP)
        f1 = K.unigram_counts(rs, 4, normalize=True)
        c2 = K.kgram_counts(rs, 4, 2, normalize=False)
        # class counts / (L-1)
        f2 = np.zeros((rs.n, len(cls2)))
        np.add.at(f2, (slice(None), map2), 0)
        for g in range(16):
            f2[:, map2[g]] += c2[:, g]
        f2 = f2 / np.maximum(rs.lengths - 1, 1)[:, None].astype(np.float64)
        c3 = K.kgram_counts(rs, 4, 3, normalize=False)
        f3 = np.zeros((rs.n, len(cls3)))
        for g in range(64):
            f3[:, map3[g]] += c3[:, g]
        f3 = f3 / np.maximum(rs.lengths - 2, 1)[:, None].astype(np.float64)

        with np.errstate(divide="ignore", invalid="ignore"):
            # dinucleotide MI terms (ref :5247-5251)
            pa = np.array([cls2.index("".join(sorted(s))) for s in
                           ["".join(sorted(c)) for c in cls2]])
            out2 = np.zeros((rs.n, len(cls2)))
            for ci, s in enumerate(cls2):
                fa = f1[:, NT.index(s[0])] * f1[:, NT.index(s[1])]
                v = f2[:, ci] * np.log(f2[:, ci] / fa)
                v = np.where((f2[:, ci] != 0) & (fa != 0), v, 0.0)
                out2[:, ci] = v
            out3 = np.zeros((rs.n, len(cls3)))
            for ci in range(len(cls3)):
                i01, i02, i12, a0, a1, a2 = c3_parts[ci]
                fa01 = f1[:, a0] * f1[:, a1]
                e1 = f2[:, i01] * np.log(f2[:, i01] / fa01)
                e1 = np.where((f2[:, i01] != 0) & (fa01 != 0), e1, 0.0)
                rat2 = f2[:, i02] / f1[:, a2]
                e2 = rat2 * np.log(rat2)
                e2 = np.where((f2[:, i02] != 0) & (f1[:, a2] != 0), e2, 0.0)
                rat3 = f3[:, ci] / f2[:, i12]
                e3 = rat3 * np.log(rat3)
                e3 = np.where((f2[:, i12] != 0) & (rat3 != 0), e3, 0.0)
                out3[:, ci] = e1 + e2 - e3
        out2 = np.nan_to_num(out2, nan=0.0, posinf=0.0, neginf=0.0)
        out3 = np.nan_to_num(out3, nan=0.0, posinf=0.0, neginf=0.0)
        return np.concatenate([out2, out3], axis=1)

    return kern


register(DescriptorSpec(
    "MMI", "dna",
    lambda cfg, L: ([f"MMI_{s}" for s in _sorted_class_map(2)[1]]
                    + [f"MMI_{s}" for s in _sorted_class_map(3)[1]]),
    _mk_mmi, ref="iFeatureOmegaCLI.py:5198-5269",
))


# --------------------------------------------------------------------------
# Z-curve family (ref :5364-5609): phase-stratified k-gram counts → x/y/z
# linear combos per (k-1)-gram prefix, ÷ (L-k+1).
# --------------------------------------------------------------------------

_ZMAT = np.array([  # rows x,y,z; cols A,C,G,T
    [1.0, -1.0, 1.0, -1.0],
    [1.0, 1.0, -1.0, -1.0],
    [1.0, -1.0, -1.0, 1.0],
])


def _mk_zcurve(k: int, phased: bool):
    def mk_kernel(cfg, L):
        def kern(r: Ragged):
            rs = r.strip(DGAP)
            dim = 4**k
            ids, rid = K.kgram_ids(rs, 4, k)
            denom = np.maximum(rs.lengths - k + 1, 1).astype(np.float64)
            if phased:
                # phase of gram start: (i+1)%3 → block order 1,2,0
                pos = (np.arange(len(rs.flat))
                       - np.repeat(rs.offsets[:-1], rs.lengths))
                valid = K._valid_gram_mask(rs, k)
                ph = (pos[valid] + 1) % 3  # 1,2,0
                phase_block = np.where(ph == 1, 0, np.where(ph == 2, 1, 2))
                c = np.bincount((rid * 3 + phase_block) * dim + ids,
                                minlength=rs.n * 3 * dim).reshape(rs.n, 3, dim)
            else:
                c = np.bincount(rid * dim + ids,
                                minlength=rs.n * dim).reshape(rs.n, 1, dim)
            nph = c.shape[1]
            # prefix-major output: (prefix, phase, xyz)
            c = c.reshape(rs.n, nph, dim // 4, 4).astype(np.float64)
            xyz = np.einsum("npqa,ea->nqpe", c, _ZMAT)  # (n, prefix, phase, 3)
            if k == 1:
                denom_eff = rs.lengths.astype(np.float64)
            else:
                denom_eff = denom
            return (xyz.reshape(rs.n, -1)
                    / np.where(denom_eff == 0, 1.0, denom_eff)[:, None])

        return kern

    return mk_kernel


def _zc_names(k: int, phased: bool, bits: int):
    prefixes = _kmers(NT, k - 1) if k > 1 else [""]
    out = []
    for pre in prefixes:
        if phased:
            for pos in (1, 2, 3):
                for e in ("x", "y", "z"):
                    if k == 1:
                        out.append(f"Zcurve{bits}_{pos}.{e}")
                    elif k == 2:
                        out.append(f"Zcurve{bits}_{pre}_{pos}.{e}")  # unused
                    else:
                        out.append(f"Zcurve{bits}_{pos}_{pre}.{e}")
        else:
            for e in ("x", "y", "z"):
                out.append(f"Zcurve{bits}_{pre}.{e}")
    return out


register(DescriptorSpec(
    "Z_curve_9bit", "dna", lambda cfg, L: _zc_names(1, True, 9),
    _mk_zcurve(1, True), ref="iFeatureOmegaCLI.py:5364-5417",
))
register(DescriptorSpec(
    "Z_curve_12bit", "dna", lambda cfg, L: _zc_names(2, False, 12),
    _mk_zcurve(2, False), ref="iFeatureOmegaCLI.py:5419-5453",
))


def _zc36_names(cfg, L):
    return [f"Zcurve36_{pos}_{b}.{e}" for b in NT for pos in (1, 2, 3)
            for e in ("x", "y", "z")]


register(DescriptorSpec(
    "Z_curve_36bit", "dna", _zc36_names,
    _mk_zcurve(2, True), ref="iFeatureOmegaCLI.py:5455-5530",
))
register(DescriptorSpec(
    "Z_curve_48bit", "dna",
    lambda cfg, L: [f"Zcurve48_{b}{b1}.{e}" for b in NT for b1 in NT
                    for e in ("x", "y", "z")],
    _mk_zcurve(3, False), ref="iFeatureOmegaCLI.py:5532-5560",
))
register(DescriptorSpec(
    "Z_curve_144bit", "dna",
    lambda cfg, L: [f"Zcurve144_{pos}_{b}{b1}.{e}" for b in NT for b1 in NT
                    for pos in (1, 2, 3) for e in ("x", "y", "z")],
    _mk_zcurve(3, True), ref="iFeatureOmegaCLI.py:5536-5609",
))


# --------------------------------------------------------------------------
# DNA/RNA dinucleotide-property autocorrelations and Pse* family
# --------------------------------------------------------------------------

_TRI_DNA_DEFAULT = "Dnase I;Bendability (DNAse)"


def _gram_prop_series(rs: Ragged, k: int, prop_row: np.ndarray):
    ids, r2 = K.gram_view(rs, 4, k)
    return prop_row[ids], r2


def _register_dna_autocorr(name: str, kind: str, ref: str):
    def mk_names(cfg, L):
        return [f"{name}_{p}.lag{n}" for p in cfg["Di-DNA-Phychem"].split(";")
                for n in range(1, cfg["nlag"] + 1)]

    def mk_kernel(cfg, L):
        sel, v = _phyche("didnaPhyche", cfg["Di-DNA-Phychem"].split(";"), znorm=True)
        nlag = cfg["nlag"]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            blocks = []
            for p in range(v.shape[0]):
                x, r2 = _gram_prop_series(rs, 2, v[p])
                st = K.lag_stats(x, r2, nlag)
                Nl = st["lengths"][:, None]
                d = np.arange(1, nlag + 1)[None, :]
                if kind == "broto":
                    out = st["raw"]
                    out = np.where((st["lengths"] <= nlag)[:, None], 0.0, out)
                elif kind == "moran":
                    # Idup/(headssq/N) (ref :5689-5692); /0 → exception → 0
                    den = st["headssq"] / Nl
                    out = np.where(den != 0, st["cen"] / np.where(den == 0, 1, den), 0.0)
                else:  # geary: (diffsq/(2(N-d))) / (headssq/(N-1)) (ref :5779-5781)
                    num = st["diffsq"] / (2.0 * np.maximum(Nl - d, 1.0))
                    den = st["headssq"] / np.maximum(Nl - 1.0, 1.0)
                    out = np.where(den != 0, num / np.where(den == 0, 1, den), 0.0)
                blocks.append(out)
            return np.concatenate(blocks, axis=1)

        return kern

    register(DescriptorSpec(
        name, "dna", mk_names, mk_kernel, ref=ref,
        defaults={"Di-DNA-Phychem": _DI_DNA_DEFAULT, "nlag": 3},
    ))


_register_dna_autocorr("NMBroto", "broto", "iFeatureOmegaCLI.py:5611-5671")
_register_dna_autocorr("Moran", "moran", "iFeatureOmegaCLI.py:5673-5731")
_register_dna_autocorr("Geary", "geary", "iFeatureOmegaCLI.py:5733-5791")


def _register_dactac(name: str, k: int, mode: str, prop_key: str, default_props: str, ref: str):
    """DAC/TAC (auto), DCC/TCC (cross), DACC/TACC (concat), ref :5800-5950."""

    def props_of(cfg):
        return cfg[prop_key].split(";")

    def mk_names(cfg, L):
        ps = props_of(cfg)
        nlag = cfg["nlag"]
        if mode == "ac":
            return [f"{name}_{p}.lag{n}" for p in ps for n in range(1, nlag + 1)]
        if mode == "cc":
            return [f"{name}_{a}-{b}-lag.{n}" for a, b in _prop_pairs(ps)
                    for n in range(1, nlag + 1)]
        return ([f"{p}.lag{n}" for p in ps for n in range(1, nlag + 1)]
                + [f"{name}_{a}-{b}-lag.{n}" for a, b in _prop_pairs(ps)
                   for n in range(1, nlag + 1)])

    def mk_kernel(cfg, L):
        ps = props_of(cfg)
        fname = "didnaPhyche" if k == 2 else "tridnaPhyche"
        sel, v = _phyche(fname, ps)  # raw values (no z-norm, ref :4162)
        nlag = cfg["nlag"]
        pairs = [(ps.index(a), ps.index(b)) for a, b in _prop_pairs(ps)]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            ids, r2 = K.gram_view(rs, 4, k)
            blocks = []
            if mode in ("ac", "acc"):
                for p in range(v.shape[0]):
                    st = K.lag_stats(v[p][ids], r2, nlag)
                    blocks.append(st["cen"])
            if mode in ("cc", "acc"):
                series = [v[p][ids] for p in range(v.shape[0])]
                for a, b in pairs:
                    blocks.append(K.cross_cov(series[a], series[b], r2, nlag))
            return np.concatenate(blocks, axis=1)

        return kern

    register(DescriptorSpec(
        name, "dna", mk_names, mk_kernel, ref=ref,
        defaults={prop_key: default_props, "nlag": 3},
    ))


_register_dactac("DAC", 2, "ac", "Di-DNA-Phychem", _DI_DNA_DEFAULT, "iFeatureOmegaCLI.py:5800-5835")
# NOTE ref :3998-4003: the DNA dispatch evals _make_ac_vector for DCC/DACC/
# TCC/TACC too — they produce AC values under their own name prefix
_register_dactac("DCC", 2, "ac", "Di-DNA-Phychem", _DI_DNA_DEFAULT, "iFeatureOmegaCLI.py:3999,5800-5835")
_register_dactac("DACC", 2, "ac", "Di-DNA-Phychem", _DI_DNA_DEFAULT, "iFeatureOmegaCLI.py:4000,5800-5835")
_register_dactac("TAC", 3, "ac", "Tri-DNA-Phychem", _TRI_DNA_DEFAULT, "iFeatureOmegaCLI.py:5800-5835")
_register_dactac("TCC", 3, "ac", "Tri-DNA-Phychem", _TRI_DNA_DEFAULT, "iFeatureOmegaCLI.py:4002,5800-5835")
_register_dactac("TACC", 3, "ac", "Tri-DNA-Phychem", _TRI_DNA_DEFAULT, "iFeatureOmegaCLI.py:4003,5800-5835")


def _register_pse(name: str, comp_k: int, corr_k: int, series: bool,
                  prop_key: str, default_props: str, fname: str, ref: str,
                  extra_defaults: dict | None = None):
    """PseDNC/PseKNC/PCPse*/SCPse* (ref :6000-6182).

    comp_k: k of the composition block; corr_k: k of the correlation grams;
    series=False → θ via mean-squared-diff (type 1), True → per-property
    products (type 2, SC*)."""

    def mk_names(cfg, L):
        lam = cfg["lambdaValue"]
        grams = sorted(_kmers(NT, cfg.get("kmer", comp_k)))
        base = [f"{name}_{g}" for g in grams]
        if series:
            n_p = len(cfg[prop_key].split(";"))
            return base + [f"{name}_lamada_{i}" for i in range(1, lam * n_p + 1)]
        return base + [f"{name}_lamada_{i}" for i in range(1, lam + 1)]

    def mk_kernel(cfg, L):
        lam, w = cfg["lambdaValue"], cfg["weight"]
        ps = cfg[prop_key].split(";")
        sel, v = _phyche(fname, ps)  # raw pickle values
        dim_c = 4**corr_k
        if not series:
            # R matrix: mean over props of (P[a]-P[b])² (ref :5963-5967)
            R = ((v[:, :, None] - v[:, None, :]) ** 2).mean(axis=0)
        else:
            outer = [np.outer(v[p], v[p]) for p in range(v.shape[0])]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            _, r2 = K.gram_view(rs, 4, corr_k)
            # θ[λ] uses lag λ+1 over the gram series, denominator
            # L - λ - corr_k = N_series - (λ+1)
            if not series:
                theta = _pair_lag_sum(r2, R, lam, mean=True)
            else:
                theta = _series_theta(r2, outer, lam)
            freq = K.kgram_counts(rs, 4, cfg.get("kmer", comp_k), normalize=True)
            den = 1.0 + w * theta.sum(axis=1, keepdims=True)
            return np.concatenate([freq / den, w * theta / den], axis=1)

        return kern

    defaults = {prop_key: default_props, "weight": 0.05, "lambdaValue": 3}
    defaults.update(extra_defaults or {})
    register(DescriptorSpec(name, "dna", mk_names, mk_kernel, ref=ref,
                            defaults=defaults))


_register_pse("PseDNC", 2, 2, False, "Di-DNA-Phychem", _DI_DNA_DEFAULT,
              "didnaPhyche", "iFeatureOmegaCLI.py:6000-6028")
_register_pse("PCPseDNC", 2, 2, False, "Di-DNA-Phychem", _DI_DNA_DEFAULT,
              "didnaPhyche", "iFeatureOmegaCLI.py:6030-6058")
_register_pse("PCPseTNC", 3, 3, False, "Tri-DNA-Phychem", _TRI_DNA_DEFAULT,
              "tridnaPhyche", "iFeatureOmegaCLI.py:6060-6090")
_register_pse("SCPseDNC", 2, 2, True, "Di-DNA-Phychem", _DI_DNA_DEFAULT,
              "didnaPhyche", "iFeatureOmegaCLI.py:6092-6121")
_register_pse("SCPseTNC", 3, 3, True, "Tri-DNA-Phychem", _TRI_DNA_DEFAULT,
              "tridnaPhyche", "iFeatureOmegaCLI.py:6123-6151")
_register_pse("PseKNC", 3, 2, False, "Di-DNA-Phychem", _DI_DNA_DEFAULT,
              "didnaPhyche", "iFeatureOmegaCLI.py:6153-6182",
              extra_defaults={"weight": 0.1, "lambdaValue": 2, "kmer": 3})


# --------------------------------------------------------------------------
# RNA registration (ref iRNA :6492-8974 is a structural copy of iDNA with
# dirnaPhyche properties; U→T canonicalization happens at tokenize time so
# alphabet-generic kernels are shared verbatim)
# --------------------------------------------------------------------------

_RNA_SHARED = [
    "Kmer type 1", "Kmer type 2", "Mismatch", "Subsequence", "NAC", "ANF",
    "NCP", "ENAC", "binary", "CKSNAP type 1", "CKSNAP type 2", "ASDC", "DBE",
    "LPDF", "MMI", "PS2", "PS3", "PS4", "Z_curve_9bit", "Z_curve_12bit",
    "Z_curve_36bit", "Z_curve_48bit", "Z_curve_144bit",
]
for _n in _RNA_SHARED:
    _sp = DESCRIPTORS[f"dna:{_n}"]
    register(DescriptorSpec(_sp.name, "rna", _sp.make_names, _sp.make_kernel,
                            _sp.equal_length, dict(_sp.defaults), _sp.ref))

_DI_RNA_DEFAULT = ("Rise (RNA);Roll (RNA);Shift (RNA);Slide (RNA);"
                   "Tilt (RNA);Twist (RNA)")


def _mk_dpcp_rna(cfg, L):
    sel, v = _phyche("dirnaPhyche", cfg["Di-RNA-Phychem"].split(";"))

    def kern(r: Ragged):
        f = K.kgram_counts(r.strip(DGAP), 4, 2, normalize=True)
        return (f[:, None, :] * v[None, :, :]).reshape(r.n, -1)

    return kern


register(DescriptorSpec(
    "DPCP", "rna",
    lambda cfg, L: [f"DPCP_{a}{b}_{p}" for p in cfg["Di-RNA-Phychem"].split(";")
                    for a in NT for b in NT],
    _mk_dpcp_rna, defaults={"Di-RNA-Phychem": _DI_RNA_DEFAULT},
    ref="iFeatureOmegaCLI.py:7554-7604",
))


def _mk_dpcp2_rna(cfg, L):
    sel, v = _phyche("dirnaPhyche", cfg["Di-RNA-Phychem"].split(";"))
    table = v.T  # (16, P)

    def kern(r: Ragged):
        m = r.to_matrix()
        ids = np.zeros((m.shape[0], m.shape[1] - 1), dtype=np.int64)
        ok = (m[:, :-1] < 4) & (m[:, 1:] < 4)
        ids = np.where(ok, m[:, :-1] * 4 + m[:, 1:], 0)
        g = table[ids]
        g = np.where(ok[..., None], g, 0.0)
        return g.transpose(0, 2, 1).reshape(m.shape[0], -1)  # prop-major values

    return kern


register(DescriptorSpec(
    "DPCP type2", "rna",
    lambda cfg, L: [f"DPCP2_{p}_pos{i}" for i in range(1, L)
                    for p in cfg["Di-RNA-Phychem"].split(";")],
    _mk_dpcp2_rna, equal_length=True,
    defaults={"Di-RNA-Phychem": _DI_RNA_DEFAULT},
    ref="iFeatureOmegaCLI.py:7606-7656",
))


def _register_rna_autocorr(name: str, kind: str, ref: str):
    def mk_names(cfg, L):
        return [f"{name}_{p}.lag{n}" for p in cfg["Di-RNA-Phychem"].split(";")
                for n in range(1, cfg["nlag"] + 1)]

    def mk_kernel(cfg, L):
        sel, v = _phyche("dirnaPhyche", cfg["Di-RNA-Phychem"].split(";"), znorm=True)
        nlag = cfg["nlag"]
        need = {"broto": ("raw",), "moran": ("cen", "headssq"),
                "geary": ("diffsq", "headssq")}[kind]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            ids, r2 = K.gram_view(rs, 4, 2)
            ws = K.LagWorkspace(r2, nlag)
            blocks = []
            for p in range(v.shape[0]):
                st = ws.stats(v[p][ids], need)
                Nl = st["lengths"][:, None]
                d = np.arange(1, nlag + 1)[None, :]
                if kind == "broto":
                    out = np.where((st["lengths"] <= nlag)[:, None], 0.0, st["raw"])
                elif kind == "moran":
                    den = st["headssq"] / Nl
                    out = np.where(den != 0, st["cen"] / np.where(den == 0, 1, den), 0.0)
                else:
                    num = st["diffsq"] / (2.0 * np.maximum(Nl - d, 1.0))
                    den = st["headssq"] / np.maximum(Nl - 1.0, 1.0)
                    out = np.where(den != 0, num / np.where(den == 0, 1, den), 0.0)
                blocks.append(out)
            return np.concatenate(blocks, axis=1)

        return kern

    register(DescriptorSpec(name, "rna", mk_names, mk_kernel, ref=ref,
                            defaults={"Di-RNA-Phychem": _DI_RNA_DEFAULT, "nlag": 3}))


_register_rna_autocorr("NMBroto", "broto", "iFeatureOmegaCLI.py:8175-8235")
_register_rna_autocorr("Moran", "moran", "iFeatureOmegaCLI.py:8237-8295")
_register_rna_autocorr("Geary", "geary", "iFeatureOmegaCLI.py:8297-8355")


def _register_rna_dac(name: str, ref: str):
    def mk_names(cfg, L):
        return [f"{name}_{p}.lag{n}" for p in cfg["Di-RNA-Phychem"].split(";")
                for n in range(1, cfg["nlag"] + 1)]

    def mk_kernel(cfg, L):
        sel, v = _phyche("dirnaPhyche", cfg["Di-RNA-Phychem"].split(";"))
        nlag = cfg["nlag"]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            ids, r2 = K.gram_view(rs, 4, 2)
            blocks = []
            for p in range(v.shape[0]):
                st = K.lag_stats(v[p][ids], r2, nlag)
                blocks.append(st["cen"])
            return np.concatenate(blocks, axis=1)

        return kern

    register(DescriptorSpec(name, "rna", mk_names, mk_kernel, ref=ref,
                            defaults={"Di-RNA-Phychem": _DI_RNA_DEFAULT, "nlag": 3}))


# RNA dispatch shares the same _make_ac_vector quirk for DCC/DACC (ref :6622-6624)
_register_rna_dac("DAC", "iFeatureOmegaCLI.py:8370-8420")
_register_rna_dac("DCC", "iFeatureOmegaCLI.py:6623,8370-8420")
_register_rna_dac("DACC", "iFeatureOmegaCLI.py:6624,8370-8420")


def _register_rna_pse(name: str, series: bool, ref: str, extra: dict | None = None):
    def mk_names(cfg, L):
        lam = cfg["lambdaValue"]
        grams = sorted(_kmers(NT, cfg.get("kmer", 2)))
        base = [f"{name}_{g}" for g in grams]
        if series:
            n_p = len(cfg["Di-RNA-Phychem"].split(";"))
            return base + [f"{name}_lamada_{i}" for i in range(1, lam * n_p + 1)]
        return base + [f"{name}_lamada_{i}" for i in range(1, lam + 1)]

    def mk_kernel(cfg, L):
        lam, w = cfg["lambdaValue"], cfg["weight"]
        ps = cfg["Di-RNA-Phychem"].split(";")
        sel, v = _phyche("dirnaPhyche", ps)
        if not series:
            R = ((v[:, :, None] - v[:, None, :]) ** 2).mean(axis=0)
        else:
            outer = [np.outer(v[p], v[p]) for p in range(v.shape[0])]

        def kern(r: Ragged):
            rs = r.strip(DGAP)
            _, r2 = K.gram_view(rs, 4, 2)
            if not series:
                theta = _pair_lag_sum(r2, R, lam, mean=True)
            else:
                theta = _series_theta(r2, outer, lam)
            freq = K.kgram_counts(rs, 4, cfg.get("kmer", 2), normalize=True)
            den = 1.0 + w * theta.sum(axis=1, keepdims=True)
            return np.concatenate([freq / den, w * theta / den], axis=1)

        return kern

    defaults = {"Di-RNA-Phychem": _DI_RNA_DEFAULT, "weight": 0.05, "lambdaValue": 3}
    defaults.update(extra or {})
    register(DescriptorSpec(name, "rna", mk_names, mk_kernel, ref=ref,
                            defaults=defaults))


_register_rna_pse("PseDNC", False, "iFeatureOmegaCLI.py:8564-8590")
_register_rna_pse("PCPseDNC", False, "iFeatureOmegaCLI.py:8594-8620")
_register_rna_pse("SCPseDNC", True, "iFeatureOmegaCLI.py:8656-8680")
_register_rna_pse("PseKNC", False, "iFeatureOmegaCLI.py:8716-8745",
                  extra={"kmer": 3, "weight": 0.05, "lambdaValue": 3})


# --------------------------------------------------------------------------
# DistancePair (ref :2554-2702) and PseKRAAC types 1-16 (ref :2704-3733)
# Reduced-alphabet tables probed into resources/{distancepair,psekraac}.json
# --------------------------------------------------------------------------


def _dp_table(cp: str):
    d = LK._json("distancepair.json")[cp]
    classes = d["classes"]
    gmap = np.full(21, len(classes), dtype=np.int64)
    gmap[:20] = d["groups"]
    return classes, gmap


def _dp_names(cfg, L):
    classes, _ = _dp_table(cfg["cp"])
    out = []
    for d in range(cfg["distance"] + 1):
        if d == 0:
            out += [f"DP_{c}" for c in sorted(classes)]
        else:
            out += [f"DP_{a}{b}.distance{d}"
                    for a, b in sorted((a, b) for a in classes for b in classes)]
    return out


def _mk_distancepair(cfg, L):
    classes, gmap = _dp_table(cfg["cp"])
    nc = len(classes)
    # sorted-order permutation for singles and pairs
    sing_perm = np.argsort(np.array(classes, dtype=object))
    pair_keys = [(a, b) for a in classes for b in classes]
    pair_perm = np.argsort(np.array([a + b for a, b in pair_keys], dtype=object))

    def kern(r: Ragged):
        rs = r.strip(PGAP).remap(gmap)
        blocks = []
        for d in range(cfg["distance"] + 1):
            if d == 0:
                c = K.unigram_counts(rs, nc, normalize=True)
                blocks.append(c[:, sing_perm])
            else:
                # pairs (i, i+d): gap parameter of kgram machinery is d-1
                c = K.kgram_counts(rs, nc, 2, normalize=False, gap=d - 1)
                denom = np.maximum(rs.lengths - d, 1).astype(np.float64)
                blocks.append((c / denom[:, None])[:, pair_perm])
        return np.concatenate(blocks, axis=1)

    return kern


register(DescriptorSpec(
    "DistancePair", "protein", _dp_names, _mk_distancepair,
    defaults={"distance": 0, "cp": "cp(20)"}, ref="iFeatureOmegaCLI.py:2554-2702",
))


def _psekraac_meta(t: str, clust: int):
    d = LK._json("psekraac.json")[f"{t}|{clust}"]
    gmap = np.full(21, len(d["gnames"]), dtype=np.int64)
    gmap[:20] = d["groups"]
    return d["ttype"], d["gnames"], gmap


def _register_psekraac(t: str, default_clust: int):
    name = f"PseKRAAC type {t}"

    def mk_names(cfg, L):
        ttype, gnames, _ = _psekraac_meta(t, cfg["RAAC_clust"])
        kt = cfg["k-tuple"]
        model = cfg["PseKRAAC_model"]
        gl = cfg["g-gap"] if model == "g-gap" else cfg["lambdaValue"]
        suffix = f"gap{gl}" if model == "g-gap" else f"LC{gl}"
        tuples = [""]
        for _ in range(kt):
            tuples = [p + ("_" if p else "") + g for p in tuples for g in gnames]
        return [f"{ttype}_{tp}_{suffix}" for tp in tuples]

    def mk_kernel(cfg, L):
        ttype, gnames, gmap = _psekraac_meta(t, cfg["RAAC_clust"])
        nG = len(gnames)
        kt = cfg["k-tuple"]
        model = cfg["PseKRAAC_model"]
        gl = cfg["g-gap"] if model == "g-gap" else cfg["lambdaValue"]

        def kern(r: Ragged):
            rs = r.strip(PGAP).remap(gmap)
            dim = nG**kt
            pos = np.arange(len(rs.flat)) - np.repeat(rs.offsets[:-1], rs.lengths)
            rl = np.repeat(rs.lengths, rs.lengths)
            if model == "g-gap":
                # sampled starts j ≡ 0 (mod g+1); tuple tokens contiguous
                start_ok = pos % (gl + 1) == 0
                step = 1
            else:
                # all starts; tuple tokens at stride λ
                start_ok = np.ones(len(rs.flat), dtype=bool)
                step = gl
            span = (kt - 1) * step + 1 if kt > 1 else 1
            ok = start_ok & (pos + span <= rl)
            idx = np.nonzero(ok)[0]
            ids = np.zeros(len(idx), dtype=np.int64)
            for j in range(kt):
                ids = ids * nG + rs.flat[idx + j * step]
            rid = rs.row_ids()[idx]
            return (np.bincount(rid * dim + ids, minlength=rs.n * dim)
                    .reshape(rs.n, dim).astype(np.float64))

        return kern

    register(DescriptorSpec(
        name, "protein", mk_names, mk_kernel,
        defaults={"lambdaValue": 3, "PseKRAAC_model": "g-gap", "g-gap": 2,
                  "k-tuple": 2, "RAAC_clust": default_clust},
        ref="iFeatureOmegaCLI.py:2704-3733",
    ))


_PSEKRAAC_DEFAULT_CLUST = {
    "1": 2, "2": 2, "3A": 2, "3B": 2, "4": 5, "5": 3, "6A": 4, "6B": 5,
    "6C": 5, "7": 2, "8": 2, "9": 2, "10": 2, "11": 2, "12": 2, "13": 4,
    "14": 2, "15": 2, "16": 2,
}
for _t, _c in _PSEKRAAC_DEFAULT_CLUST.items():
    _register_psekraac(_t, _c)
