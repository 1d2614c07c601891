"""Derive per-token lookup tables from the reference by probing.

For every A2 (positional lookup) descriptor, the feature vector of a
length-1 sequence IS the lookup row of that residue.  We feed the reference
21 single-char "sequences" (20 AAs + gap; 5 for DNA: ACGT + gap) and pin
the resulting (vocab+1, D) matrices into resources/*.npz.  This avoids
hand-transcribing constants embedded in the reference source and guarantees
bit-exact agreement.

Dinucleotide-indexed lookups (DBE, DPCP type2, ...) are probed with
length-2 sequences (16 dinucleotides), trinucleotide ones with length-3.

Usage: python tools/make_lookups.py
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.reference_loader import load_reference  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RES = os.path.join(REPO, "resources")

AA = "ACDEFGHIKLMNPQRSTVWY"
NT = "ACGT"

PROTEIN_A2 = [
    "binary", "binary_6bit", "binary_5bit type 1", "binary_5bit type 2",
    "binary_3bit type 1", "binary_3bit type 2", "binary_3bit type 3",
    "binary_3bit type 4", "binary_3bit type 5", "binary_3bit type 6",
    "binary_3bit type 7", "AESNN3", "ZScale", "BLOSUM62", "AAIndex",
    "OPF_10bit", "OPF_7bit type 1", "OPF_7bit type 2", "OPF_7bit type 3",
]
DNA_A2_1 = ["binary", "NCP", "EIIP"]  # per-nucleotide
DNA_A2_2 = ["DBE", "DPCP type2"]  # per-dinucleotide positional
DNA_A2_3 = ["TPCP type2"]  # per-trinucleotide positional


def _write_fasta(path: str, seqs: list[str]) -> None:
    with open(path, "w") as f:
        for i, s in enumerate(seqs):
            f.write(f">P{i:03d}|0|training\n{s}\n")


def _run_probe_set(make_obj, probes: list[str], descs: list[str]):
    out = {}
    failed = []
    with tempfile.TemporaryDirectory() as td:
        fp = os.path.join(td, "probe.txt")
        _write_fasta(fp, probes)
        obj = make_obj(fp)
        for d in descs:
            ok = obj.get_descriptor(d)
            if ok is False or obj.encodings is None or len(obj.encodings) != len(probes):
                failed.append(d)
                continue
            out[d] = obj.encodings.to_numpy(dtype=np.float64)
    return out, failed


def probe(make_obj, probes: list[str], descs: list[str], gap_probe: bool = False):
    """Run each descriptor on single-gram probe sequences; the output row of
    probe i is the lookup-table row of gram i.  If `gap_probe`, a trailing
    '-' probe is included; descriptors that reject it get an all-zero gap
    row instead (matching the reference's '-'→zeros convention)."""
    full = probes + (["-" * len(probes[0])] if gap_probe else [])
    out, failed = _run_probe_set(make_obj, full, descs)
    if failed and gap_probe:
        retr, failed2 = _run_probe_set(make_obj, probes, failed)
        for d, mat in retr.items():
            out[d] = np.vstack([mat, np.zeros((1, mat.shape[1]))])
        failed = failed2
    for d in failed:
        print(f"  probe FAIL {d}")
    for d, mat in out.items():
        print(f"  probed {d}: {mat.shape}")
    return out


def main() -> None:
    os.makedirs(RES, exist_ok=True)
    ref = load_reference()

    # protein single-residue probes; pad with 'A'*3 variety chars so the
    # alphabet sniffer classifies as protein (needs >5 distinct chars)
    probes = list(AA)
    res_p = probe(
        lambda fp: _mk(ref.iProtein, fp, "/root/reference/parameters/Protein_parameters_setting.json"),
        probes, PROTEIN_A2, gap_probe=True,
    )
    np.savez(os.path.join(RES, "protein_a2.npz"), **{k.replace(" ", "_"): v for k, v in res_p.items()})

    nt_probes = list(NT)
    res_d1 = probe(
        lambda fp: _mk(ref.iDNA, fp, "/root/reference/parameters/DNA_parameters_setting.json"),
        nt_probes, DNA_A2_1, gap_probe=True,
    )
    np.savez(os.path.join(RES, "dna_a2_1.npz"), **{k.replace(" ", "_"): v for k, v in res_d1.items()})

    di_probes = [a + b for a in NT for b in NT]
    res_d2 = probe(
        lambda fp: _mk(ref.iDNA, fp, "/root/reference/parameters/DNA_parameters_setting.json"),
        di_probes, DNA_A2_2,
    )
    np.savez(os.path.join(RES, "dna_a2_2.npz"), **{k.replace(" ", "_"): v for k, v in res_d2.items()})

    tri_probes = [a + b + c for a in NT for b in NT for c in NT]
    res_d3 = probe(
        lambda fp: _mk(ref.iDNA, fp, "/root/reference/parameters/DNA_parameters_setting.json"),
        tri_probes, DNA_A2_3,
    )
    np.savez(os.path.join(RES, "dna_a2_3.npz"), **{k.replace(" ", "_"): v for k, v in res_d3.items()})


def _mk(cls, fp, params):
    obj = cls(fp)
    obj.import_parameters(params)
    return obj


if __name__ == "__main__" and not any(a.startswith("--") for a in sys.argv[1:]):
    main()


def make_ctd_groups():
    """Derive the CTD 13-property 3-group classification (ref :1780-1824)
    by probing CTDC with single-AA sequences: the (c1,c2,c3) triple of a
    length-1 sequence one-hot-encodes the group of that AA."""
    ref = load_reference()
    with tempfile.TemporaryDirectory() as td:
        fp = os.path.join(td, "probe.txt")
        _write_fasta(fp, list(AA))
        obj = ref.iProtein(fp)
        assert obj.get_descriptor("CTDC") is not False
        mat = obj.encodings.to_numpy(dtype=np.float64)  # (20, 39)
    groups = np.zeros((13, 21), dtype=np.int64)
    for p in range(13):
        tri = mat[:, 3 * p : 3 * p + 3]
        groups[p, :20] = tri.argmax(axis=1)
        groups[p, 20] = 2
    np.savez(os.path.join(RES, "ctd_groups.npz"), groups=groups)
    print("  ctd_groups:", groups.shape)


if __name__ == "__main__" and "--ctd" in sys.argv:
    make_ctd_groups()


PSEKRAAC_TYPES = [
    "1", "2", "3A", "3B", "4", "5", "6A", "6B", "6C", "7", "8", "9", "10",
    "11", "12", "13", "14", "15", "16",
]


def make_psekraac_tables():
    """Probe every PseKRAAC (type, cluster-count) combo with ktuple=1,
    g-gap=0 single-AA sequences: output row one-hot → group of each AA; the
    probe header strings give the exact ttype/gname labels (including the
    reference's 'tpye10' typo)."""
    import json as _json

    ref = load_reference()
    out = {}
    with tempfile.TemporaryDirectory() as td:
        fp = os.path.join(td, "probe.txt")
        _write_fasta(fp, list(AA))
        for t in PSEKRAAC_TYPES:
            for clust in range(2, 21):
                obj = ref.iProtein(fp)
                obj.import_parameters(
                    "/root/reference/parameters/Protein_parameters_setting.json")
                # override params (flat dict copy happens in get_descriptor)
                key = f"PseKRAAC type {t}"
                pd_ = getattr(obj, "_iProtein__default_para_dict", None)
                if pd_ is None or key not in pd_:
                    continue
                pd_[key] = {**pd_[key], "PseKRAAC_model": "g-gap", "g-gap": 0,
                            "k-tuple": 1, "RAAC_clust": clust}
                obj.encodings = None
                obj.get_descriptor(key)
                if obj.encodings is None or len(obj.encodings) != 20:
                    continue
                cols = [str(c) for c in obj.encodings.columns]
                mat = obj.encodings.to_numpy(dtype=np.float64)
                groups = mat.argmax(axis=1).tolist()
                # header 'ttype_gname_gap0' → split off trailing '_gap0'
                gnames = [c[: -len("_gap0")] for c in cols]
                ttype = gnames[0].split("_")[0]
                gnames = [g[len(ttype) + 1:] for g in gnames]
                out[f"{t}|{clust}"] = {"ttype": ttype, "gnames": gnames,
                                       "groups": groups}
    with open(os.path.join(RES, "psekraac.json"), "w") as f:
        _json.dump(out, f)
    print(f"  psekraac combos: {len(out)}")


if __name__ == "__main__" and "--psekraac" in sys.argv:
    make_psekraac_tables()


def make_distancepair_tables():
    """Probe DistancePair reduced alphabets: distance=0 single-AA probes
    one-hot the reduced class of each AA; header strings give class names."""
    import json as _json

    ref = load_reference()
    out = {}
    with tempfile.TemporaryDirectory() as td:
        fp = os.path.join(td, "probe.txt")
        _write_fasta(fp, list(AA))
        for cp in ("cp(20)", "cp(19)", "cp(14)", "cp(13)"):
            obj = ref.iProtein(fp)
            pd_ = getattr(obj, "_iProtein__default_para_dict")
            pd_["DistancePair"] = {"distance": 0, "cp": cp}
            obj.encodings = None
            obj.get_descriptor("DistancePair")
            cols = [str(c)[len("DP_"):] for c in obj.encodings.columns]
            mat = obj.encodings.to_numpy(dtype=np.float64)
            out[cp] = {"classes": cols, "groups": mat.argmax(axis=1).tolist()}
    with open(os.path.join(RES, "distancepair.json"), "w") as f:
        _json.dump(out, f)
    print("  distancepair:", {k: len(v["classes"]) for k, v in out.items()})


if __name__ == "__main__" and "--dp" in sys.argv:
    make_distancepair_tables()


def make_atom_property_table():
    """Probe chem/AtomProperty.py (a standalone published-constants module
    with no rdkit import) and pin the per-element property dict into
    resources/atom_property.json — the autocorrelation (ATS/MATS/GATS)
    and Burden descriptor families read relative-to-carbon values from
    it.  Probed, not transcribed, per the repo's lookup policy."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location(
        "ref_atom_property", "/root/reference/chem/AtomProperty.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    pkg_res = os.path.join(REPO, "ifeatureomega_cli_spark", "resources")
    with open(os.path.join(pkg_res, "atom_property.json"), "w") as f:
        _json.dump(mod.AtomProperty, f, indent=0, sort_keys=True)
    print("  atom_property:", len(mod.AtomProperty), "elements")


if __name__ == "__main__" and "--atomprop" in sys.argv:
    make_atom_property_table()
