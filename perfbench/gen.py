"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, size constants): the same seed
writes byte-identical inputs. Each also returns the facts the output checks
need (the well-formed records, the planted groups, the planted pairs), so the
checks compare the program's output with what was planted, never with a stored
copy of an earlier output.
"""

import gzip
import itertools
import json
import os
import random

import numpy as np

# ---------------------------------------------------------------- sizes ----

INGEST = dict(sdf_files=4, sdf_per_file=2250, zinc_files=4, zinc_per_file=20250, pool=3000,
              batch_size=20000, wave_files=2,
              sdf_blank_share=0.02, sdf_badtag_share=0.03,
              zinc_blank_share=0.02, zinc_short_share=0.01)
CURATE = dict(files=8, bases=20000, max_variants=4, invalid_share=0.03,
              slice_records=200)
NEAR_DUP = dict(files=4, docs=5000, sources=6, min_tokens=40, max_tokens=100, vocab=12000,
                header_tokens=24, header_share=0.5, cluster_share=0.12, vectors=3000, dim=64, vec_cluster_share=0.1,
                text_threshold=0.8, vec_threshold=0.95, bands=8, rows_per_band=4,
                vec_bits=8, vec_bands=4)

# ------------------------------------------------------------ molecules ----

# standard atomic masses (IUPAC conventional values) and default valences
MASS = {"H": 1.008, "C": 12.011, "N": 14.007, "O": 15.999, "S": 32.06,
        "F": 18.998, "Cl": 35.453, "Br": 79.904}
VALENCE = {"C": 4, "N": 3, "O": 2, "S": 2, "F": 1, "Cl": 1, "Br": 1}
ELEMENTS = ["C"] * 10 + ["N"] * 2 + ["O"] * 2 + ["S", "F", "Cl", "Br"]
SALTS = ["[Na+]", "[K+]", "Cl", "[Cl-]", "Br", "O"]
INVALID = ["C1CCC", "CC(CC", "CC)C", "C[Zz]C", "CC=", "C%1CC", "C((C)C", "N1CC2CC1"]


def random_molecule(rng, n_atoms):
    """An aliphatic molecule as a graph, written as SMILES.

    Returns (smiles, mw, chiral_index) where `chiral_index` is the position of
    a `[CH]` bracket atom in the SMILES text (or -1) that stereo and isotope
    variants rewrite. Hydrogens are implicit: valence minus bond orders.
    """
    elems = ["C"]
    free = [4]
    adj = [[]]  # (neighbour, order)
    while len(elems) < n_atoms:
        e = rng.choice(ELEMENTS)
        hosts = [i for i in range(len(elems)) if free[i] >= 1]
        if not hosts:
            break
        h = rng.choice(hosts)
        order = 2 if (free[h] >= 2 and VALENCE[e] >= 2 and rng.random() < 0.12) else 1
        elems.append(e)
        free.append(VALENCE[e] - order)
        free[h] -= order
        adj.append([(h, order)])
        adj[h].append((len(elems) - 1, order))
    # at most one ring closure between two non-adjacent atoms with free valence
    ring = None
    if len(elems) >= 6 and rng.random() < 0.5:
        cand = [(a, b) for a in range(len(elems)) for b in range(a + 3, len(elems))
                if free[a] >= 1 and free[b] >= 1 and all(n != b for n, _ in adj[a])]
        if cand:
            a, b = rng.choice(cand)
            free[a] -= 1
            free[b] -= 1
            ring = (a, b)
    hydrogens = sum(free)
    mw = sum(MASS[e] for e in elems) + hydrogens * MASS["H"]
    # carbons with three single-bonded heavy neighbours and one H are
    # written as [CH]: the site a stereo or isotope variant rewrites
    ring_deg = [0] * len(elems)
    if ring:
        ring_deg[ring[0]] += 1
        ring_deg[ring[1]] += 1

    def is_chiral(i):
        return (elems[i] == "C" and free[i] == 1
                and len(adj[i]) + ring_deg[i] == 3 and all(o == 1 for _, o in adj[i]))

    chosen = next((i for i in range(len(elems)) if is_chiral(i)), -1)
    out = []
    chiral_pos = -1

    def write(i, parent, bond):
        nonlocal chiral_pos
        if bond == 2:
            out.append("=")
        if i == chosen:
            chiral_pos = sum(len(t) for t in out)
            out.append("[CH]")
        else:
            out.append(elems[i])
        if ring and i in ring:
            out.append("1")
        kids = [(n, o) for n, o in adj[i] if n != parent]
        for k, (n, o) in enumerate(kids):
            if k < len(kids) - 1:
                out.append("(")
                write(n, i, o)
                out.append(")")
            else:
                write(n, i, o)

    write(0, -1, 1)
    return "".join(out), mw, chiral_pos


def variant(rng, smiles, chiral_pos):
    """A salt, stereo or isotope form of `smiles` that normalizes back to it."""
    kinds = ["salt_after", "salt_before"]
    if chiral_pos >= 0:
        kinds += ["stereo", "stereo2", "isotope", "stereo_salt"]
    k = rng.choice(kinds)

    def at(tag):
        return smiles[:chiral_pos] + tag + smiles[chiral_pos + 4:]

    if k == "salt_after":
        return smiles + "." + rng.choice(SALTS)
    if k == "salt_before":
        return rng.choice(SALTS) + "." + smiles
    if k == "stereo":
        return at("[C@H]")
    if k == "stereo2":
        return at("[C@@H]")
    if k == "isotope":
        return at("[13CH]")
    return at("[C@H]") + "." + rng.choice(SALTS)


def _distinct_bases(rng, n, min_atoms=5, max_atoms=16):
    seen = {}
    while len(seen) < n:
        s, mw, cp = random_molecule(rng, rng.randint(min_atoms, max_atoms))
        if s not in seen:
            seen[s] = (mw, cp)
    return seen


def _write_gz_lines(path, lines):
    with gzip.open(path, "wt", encoding="utf-8", compresslevel=5) as f:
        f.write("".join(lines))


def _write_parts(d, stem, lines, n):
    """`lines` as `n` gzip NDJSON files, one Spark input partition each."""
    os.makedirs(d, exist_ok=True)
    per = -(-len(lines) // n)
    for i in range(n):
        _write_gz_lines(f"{d}/{stem}-{i + 1:03d}.jsonl.gz", lines[i * per:(i + 1) * per])


# --------------------------------------------------------------- ingest ----

def _molblock(rng, cid, smiles):
    n = max(1, sum(1 for ch in smiles if ch.isalpha() and ch.isupper()))
    head = f"{cid}\n  -OEChem-10182600002D\n\n{n:3d}{max(0, n - 1):3d}  0     0  0  0  0  0  0999 V2000\n"
    atoms = "".join(
        f"{rng.uniform(-9, 9):10.4f}{rng.uniform(-9, 9):10.4f}    0.0000 C   0  0  0  0  0  0  0  0  0  0  0  0\n"
        for _ in range(n))
    bonds = "".join(f"{i:3d}{i + 1:3d}  1  0  0  0  0\n" for i in range(1, n))
    return head + atoms + bonds + "M  END\n"


def gen_ingest(root, seed):
    """PubChem-style .sdf.gz files and ZINC-style .txt.gz tranches.

    Planted faults: blank SDF blocks and SDF metadata tag lines without a
    `<TAG>` (both documented as skipped), blank ZINC rows and ZINC rows with
    too few columns (documented as dropped). Returns the well-formed
    (source, identifier, smiles) records and per-source counts.
    """
    c = INGEST
    rng = random.Random(seed * 1000003 + 11)
    os.makedirs(f"{root}/pubchem", exist_ok=True)
    os.makedirs(f"{root}/zinc", exist_ok=True)
    good = []
    input_records = 0
    files = {"pubchem": 0, "zinc": 0}
    # molecules repeat across records (identifiers do not): a pool keeps
    # generation fast
    pool = [random_molecule(rng, rng.randint(4, 22))[:2] for _ in range(c["pool"])]
    cids = rng.sample(range(1, 90_000_000), c["sdf_files"] * c["sdf_per_file"])
    k = 0
    for fi in range(c["sdf_files"]):
        blocks = []
        for _ in range(c["sdf_per_file"]):
            input_records += 1
            if rng.random() < c["sdf_blank_share"]:
                blocks.append("\n\n")  # an empty block between two sentinels
                continue
            cid = str(cids[k])
            k += 1
            smiles, mw = rng.choice(pool)
            name_line = ("> PUBCHEM_IUPAC_NAME\n" if rng.random() < c["sdf_badtag_share"]
                         else "> <PUBCHEM_IUPAC_NAME>\n")
            blocks.append(
                _molblock(rng, cid, smiles)
                + f"> <PUBCHEM_COMPOUND_CID>\n{cid}\n\n"
                + name_line + f"compound-{cid}\n\n"
                + f"> <PUBCHEM_OPENEYE_ISO_SMILES>\n{smiles}\n\n"
                + f"> <PUBCHEM_MOLECULAR_WEIGHT>\n{mw:.3f}\n\n")
            good.append(("pubchem", cid, smiles))
        _write_gz_lines(f"{root}/pubchem/Compound_{fi:03d}.sdf.gz",
                        ["".join(b + "$$$$\n" for b in blocks)])
        files["pubchem"] += 1
    zids = rng.sample(range(10**8, 10**9), c["zinc_files"] * c["zinc_per_file"])
    k = 0
    for fi in range(c["zinc_files"]):
        lines = []
        for _ in range(c["zinc_per_file"]):
            input_records += 1
            r = rng.random()
            if r < c["zinc_blank_share"]:
                lines.append(rng.choice(["", "   ", " \t "]) + "\n")
                continue
            smiles, mw = rng.choice(pool)
            if r < c["zinc_blank_share"] + c["zinc_short_share"]:
                lines.append(smiles + "\n")  # one column: too short
                continue
            zid = f"ZINC{zids[k]:012d}"
            k += 1
            lines.append(f"{smiles}\t{zid}\t{mw:.2f}\t{rng.uniform(-2, 6):.2f}\n")
            good.append(("zinc", zid, smiles))
        _write_gz_lines(f"{root}/zinc/tranche_{fi:03d}.txt.gz", lines)
        files["zinc"] += 1
    counts = {s: sum(1 for g in good if g[0] == s) for s in files}
    return dict(good=good, counts=counts, files=files, input_records=input_records)


def ingest_yaml(root, out, ckpt, sdf="*.sdf.gz", zinc="*.txt.gz"):
    c = INGEST
    return (f"job:\n  output_dir: {out}\n  checkpoint_dir: {ckpt}\n"
            f"  batch_size: {c['batch_size']}\n  sources:\n"
            f"    - type: pubchem\n      name: pubchem\n      options:\n"
            f"        paths: {root}/pubchem/{sdf}\n"
            f"        resume_wave_files: {c['wave_files']}\n"
            f"    - type: zinc\n      name: zinc\n      options:\n"
            f"        paths: {root}/zinc/{zinc}\n"
            f"        resume_wave_files: {c['wave_files']}\n")


# --------------------------------------------------------------- curate ----

def gen_curate(root, seed):
    """Canonical (source, identifier, smiles, metadata) NDJSON batches.

    Plants base molecules, each with 0..max_variants salt/stereo/isotope
    variants that normalize back to the base, plus invalid strings. Returns
    per base its member identifiers, keeper and weight.
    """
    c = CURATE
    rng = random.Random(seed * 7919 + 3)
    bases = _distinct_bases(rng, c["bases"])
    rows = []
    for s, (mw, cp) in bases.items():
        forms = [s] + [variant(rng, s, cp) for _ in range(rng.randint(0, c["max_variants"]))]
        rows.extend((f, s) for f in forms)
    n_invalid = int(len(rows) * c["invalid_share"])
    rows.extend((rng.choice(INVALID), None) for _ in range(n_invalid))
    rng.shuffle(rows)
    ids = rng.sample(range(10**7, 10**8), len(rows))
    groups = {}
    lines = []
    for (smiles, base), i in zip(rows, ids):
        ident = f"MOL{i}"
        if base is not None:
            groups.setdefault(base, []).append(ident)
        lines.append(json.dumps({"source": "curated", "identifier": ident, "smiles": smiles,
                                 "metadata": {"origin": "seeded"}}) + "\n")
    _write_parts(f"{root}/input", "curated-batch", lines, c["files"])
    os.makedirs(f"{root}/slice", exist_ok=True)
    _write_gz_lines(f"{root}/slice/slice.jsonl.gz", lines[:c["slice_records"]])
    expect = {b: dict(n=len(m), keeper=min(m), mw=bases[b][0]) for b, m in groups.items()}
    return dict(groups=expect, n_valid=sum(len(m) for m in groups.values()),
                n_invalid=n_invalid, input_records=len(lines))


CURATE_SQL = """SELECT norm,
       count(*) AS n_members,
       min(identifier) AS keeper,
       min(mw) AS mw_min,
       max(mw) AS mw_max,
       min(fp_bits) AS fp_min,
       max(fp_bits) AS fp_max
FROM (
  SELECT identifier, norm,
         molecular_weight(norm) AS mw,
         size(morgan_fp(norm)) AS fp_bits
  FROM (
    SELECT identifier,
           CASE WHEN is_valid_smiles(smiles) THEN normalize_smiles(smiles) END AS norm
    FROM json.`{input}`
  )
)
GROUP BY norm
"""


def curate_pipeline_yaml(slice_dir, out):
    return (f"pipeline:\n  name: curate\n  stages:\n"
            f"    - name: mols\n      type: scan\n      format: json\n      path: {slice_dir}\n"
            f"    - name: curated\n      type: map\n      input: mols\n      columns:\n"
            f"        valid: is_valid_smiles(smiles)\n"
            f"        norm: normalize_smiles(smiles)\n"
            f"    - name: kept\n      type: filter\n      input: curated\n      condition: valid\n"
            f"    - name: groups\n      type: reduce\n      input: kept\n      group_by: [norm]\n"
            f"      aggs:\n        n_members: count(*)\n        keeper: min(identifier)\n"
            f"    - name: out\n      type: sink\n      input: groups\n      format: json\n"
            f"      path: {out}\n")


# ------------------------------------------------------------- near_dup ----

def _words(rng, n):
    syl = ["ka", "to", "ri", "mu", "sen", "lo", "va", "ne", "di", "qua", "pe", "zo",
           "bri", "tal", "mor", "shi", "ven", "ul", "gra", "fi"]
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def gen_near_dup(root, seed):
    """A text corpus over several sources and a vector corpus, each with
    planted near-duplicate clusters.

    Each source has a boilerplate header that a share of its documents
    start with, so documents of one source share shingles and LSH reports
    candidate pairs that verification rejects. Text copies are exact,
    end-extended by one or two tokens, edited in 3..8 middle positions
    (near duplicates), or edited in a quarter to a third of their positions
    (near the threshold, mostly below it); vector copies add small Gaussian
    noise.
    """
    c = NEAR_DUP
    rng = random.Random(seed * 104729 + 5)
    vocab = _words(rng, c["vocab"])
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 0.9 for r in range(len(vocab))))
    sources = [f"src{i}" for i in range(c["sources"])]
    header = {s: rng.sample(vocab, c["header_tokens"]) for s in sources}
    texts = []
    srcs = []
    planted = []
    exact = []
    n_base = int(c["docs"] * (1 - c["cluster_share"]))
    for _ in range(n_base):
        src = rng.choice(sources)
        n = rng.randint(c["min_tokens"], c["max_tokens"])
        body = rng.choices(vocab, cum_weights=cum, k=n)
        texts.append(header[src] + body if rng.random() < c["header_share"] else body)
        srcs.append(src)
    while len(texts) < c["docs"]:
        b = rng.randrange(n_base)
        toks = list(texts[b])
        kind = rng.choice(["exact", "extend", "extend", "edit", "far"])
        if kind == "extend":
            for _ in range(rng.randint(1, 2)):
                toks.append(rng.choice(vocab))
        elif kind == "edit":
            for p in rng.sample(range(3, len(toks) - 3), rng.randint(3, 8)):
                toks[p] = rng.choice(vocab)
        elif kind == "far":
            for p in rng.sample(range(len(toks)), rng.randint(len(toks) // 4, len(toks) // 3)):
                toks[p] = rng.choice(vocab)
        planted.append((b, len(texts)))
        if kind == "exact":
            exact.append((b, len(texts)))
        texts.append(toks)
        srcs.append(rng.choice(sources))
    order = list(range(len(texts)))
    rng.shuffle(order)  # doc ids are a permutation: copies are not adjacent
    doc_id = {old: new for new, old in enumerate(order)}
    docs = {}
    lines = []
    for old in order:
        i = doc_id[old]
        text = " ".join(texts[old])
        docs[i] = (srcs[old], text)
        lines.append(json.dumps({"doc_id": i, "source": srcs[old], "text": text}) + "\n")
    _write_parts(f"{root}/docs", "docs", lines, c["files"])
    text_pairs = [tuple(sorted((doc_id[a], doc_id[b]))) for a, b in planted]
    exact_pairs = [tuple(sorted((doc_id[a], doc_id[b]))) for a, b in exact]

    nrng = np.random.default_rng(seed * 31 + 7)
    nv = c["vectors"]
    n_vbase = int(nv * (1 - c["vec_cluster_share"]))
    base = nrng.standard_normal((n_vbase, c["dim"]))
    src_idx = nrng.integers(0, n_vbase, nv - n_vbase)
    copies = base[src_idx] + 0.05 * nrng.standard_normal((nv - n_vbase, c["dim"]))
    vecs = np.vstack([base, copies])
    perm = nrng.permutation(nv)
    vecs = vecs[perm]
    inv = np.empty(nv, dtype=np.int64)
    inv[perm] = np.arange(nv)
    vec_pairs = [tuple(sorted((int(inv[s]), int(inv[n_vbase + j]))))
                 for j, s in enumerate(src_idx)]
    _write_parts(f"{root}/vecs", "vecs",
                 [json.dumps({"vec_id": i, "embedding": [float(x) for x in v]}) + "\n"
                  for i, v in enumerate(vecs)], c["files"])
    return dict(docs=docs, text_pairs=text_pairs, exact_pairs=exact_pairs, vecs=vecs,
                vec_pairs=vec_pairs,
                input_records=len(docs) + nv)


GENERATORS = {"ingest": gen_ingest, "curate": gen_curate, "near_dup": gen_near_dup}
