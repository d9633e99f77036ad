"""Seeded synthetic phage graph in the reference's data profile (FIXTURES.md).

The same ``(seed, size)`` always produces byte-identical files:

- ``phage_nodes.parquet`` (accession, source, taxonomy, genome_size, genus):
  ``;``-joined lineages over Zipf-weighted families, subfamilies and genera;
  ~16% of rows miss the family, ~80% the subfamily and ~44% the genus; ~75%
  of genomes come from NCBI; the ``genus`` column is dirty in a few rows
  (holds the family name), as in the reference's goldens;
- ``shares_dna.parquet`` (src, dst, distance): near-clique clusters along
  genera plus sparser cross-cluster edges, one row per unordered pair in a
  random direction, no self-loops, distances in (0, 1] including values
  exactly at 0.1, 0.15 and 0.25;
- ``infects.parquet`` (src, host_genus): hostless and multi-host phages;
- ``lineages.csv``: the taxonomy dimension for the NCBI genomes (empty
  string = missing rank).

Taxon and host names are capitalised stems of equal length with a rank
suffix, so a ``CONTAINS`` on one name never matches another.

    python3 perfbench/gen.py --seed 1 --size serve --out /path/to/dir
"""

from __future__ import annotations

import argparse
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("NCBI", "Tara", "GPD_Isolate", "GPD_Metagenome", "GTDB_predicted_prophages")
SOURCE_P = (0.75, 0.08, 0.06, 0.06, 0.05)
THRESHOLDS = (0.1, 0.15, 0.25)

# nodes: genome count; families/subfamilies/genera/hosts: name pool sizes;
# cross: sparse cross-cluster edges per node.
SIZES = {
    "serve": dict(nodes=4000, families=24, subfamilies=40, genera=270, hosts=50, cross=0.6),
    "batch": dict(nodes=6000, families=30, subfamilies=50, genera=420, hosts=60, cross=0.6),
}

MISSING = {"family": 0.16, "subfamily": 0.80, "genus": 0.44}
CLIQUE = 16  # members per near-clique; larger genera split into several
LINEAGE_PREFIX = ("Viruses", "Duplodnaviria", "Heunggongvirae", "Uroviricota", "Caudoviricetes")

_CONS = "bcdfghklmnprstz"
_VOWELS = "aeiou"


def taxon_names(n: int, offset: int) -> list[str]:
    """``n`` distinct capitalised three-syllable stems (seed-independent);
    ``offset`` keeps the pools of different ranks disjoint."""
    out = []
    syl = [c + v for c in _CONS for v in _VOWELS]
    for i in range(offset, offset + n):
        a, b, c = i % len(syl), (i // len(syl)) % len(syl), (i // len(syl) ** 2) % len(syl)
        out.append((syl[a] + syl[b] + syl[c]).capitalize())
    return out


def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def generate(seed: int, size: str) -> dict:
    """The four tables as Python columns (deterministic in ``seed``)."""
    cfg = SIZES[size]
    rng = np.random.default_rng([seed, list(SIZES).index(size)])
    n = cfg["nodes"]
    fams = [s + "viridae" for s in taxon_names(cfg["families"], 0)]
    subs = [s + "virinae" for s in taxon_names(cfg["subfamilies"], 100)]
    gens = [s + "virus" for s in taxon_names(cfg["genera"], 500)]
    hosts = [s + "bacter" for s in taxon_names(cfg["hosts"], 3000)]

    # each genus belongs to one family and (sometimes) one subfamily
    gen_fam = rng.choice(len(fams), size=len(gens), p=_zipf_p(len(fams)))
    sub_fam = rng.choice(len(fams), size=len(subs), p=_zipf_p(len(fams)))
    gen_sub = np.full(len(gens), -1)
    for g in range(len(gens)):
        cands = np.flatnonzero(sub_fam == gen_fam[g])
        if len(cands):
            gen_sub[g] = cands[rng.integers(len(cands))]
    gen_host = rng.choice(len(hosts), size=len(gens), p=_zipf_p(len(hosts)))

    genus_of = rng.choice(len(gens), size=n, p=_zipf_p(len(gens), 0.9))
    source = rng.choice(len(SOURCES), size=n, p=SOURCE_P)
    miss_fam = rng.random(n) < MISSING["family"]
    miss_sub = rng.random(n) < MISSING["subfamily"]
    miss_gen = rng.random(n) < MISSING["genus"]
    dirty = rng.random(n) < 0.03
    gsize = np.exp(rng.uniform(np.log(12_000), np.log(372_000), size=n)).astype(np.int64)
    letters = "ABCDEFGHJKLMNPRSTUVWXYZ"
    codes = rng.choice(len(letters) ** 2 * 10**6, size=n, replace=False)
    acc = [f"{letters[c // 10**6 // len(letters)]}{letters[c // 10**6 % len(letters)]}{c % 10**6:06d}" for c in codes]

    nodes = {"accession": acc, "source": [], "taxonomy": [], "genome_size": gsize.tolist(), "genus": []}
    lineages = []
    for i in range(n):
        g = genus_of[i]
        fam = None if miss_fam[i] else fams[gen_fam[g]]
        sub = None if (miss_sub[i] or gen_sub[g] < 0) else subs[gen_sub[g]]
        gen = None if miss_gen[i] else gens[g]
        ranks = [r for r in (fam, sub, gen) if r]
        nodes["source"].append(SOURCES[source[i]])
        nodes["taxonomy"].append(";".join(LINEAGE_PREFIX + tuple(ranks)) if ranks else "Viruses;unclassified")
        nodes["genus"].append(fam if (dirty[i] and fam) else gen)
        if source[i] == 0:
            lineages.append(
                [acc[i], str(10000 + i), "Viruses", "Uroviricota", "Caudoviricetes", "Caudovirales",
                 fam or "", sub or "", gen or "", f"{gen or 'unclassified'} sp. {i}"]
            )

    # near-clique clusters: members of one genus, in chunks of CLIQUE
    pairs: dict[tuple[int, int], float] = {}
    order = np.argsort(genus_of, kind="stable")
    bounds = np.flatnonzero(np.diff(genus_of[order])) + 1
    for members in np.split(order, bounds):
        members = members[rng.permutation(len(members))]
        for c in range(0, len(members), CLIQUE):
            chunk = members[c:c + CLIQUE]
            base = rng.uniform(0.03, 0.22)
            for x in range(len(chunk)):
                for y in range(x + 1, len(chunk)):
                    if rng.random() < 0.8:
                        pairs[(chunk[x], chunk[y])] = round(float(base + rng.uniform(0, 0.12)), 6)
            if c:  # bridge to the previous chunk of the same genus
                pairs[(members[c - 1], chunk[0])] = round(float(rng.uniform(0.1, 0.3)), 6)
    n_cross = int(cfg["cross"] * n)
    a = rng.integers(n, size=n_cross)
    b = rng.integers(n, size=n_cross)
    d = rng.uniform(0.2, 1.0, size=n_cross)
    for x, y, dist in zip(a.tolist(), b.tolist(), d.tolist()):
        if x != y:
            pairs.setdefault((x, y), round(dist, 6))
    # one stored row per unordered pair, in a random direction
    canon: dict[tuple[int, int], float] = {}
    for (x, y), dist in pairs.items():
        canon.setdefault((min(x, y), max(x, y)), dist)
    keys = sorted(canon)
    flip = rng.random(len(keys)) < 0.5
    exact = rng.random(len(keys))
    src, dst, dist = [], [], []
    for k, (x, y) in enumerate(keys):
        if flip[k]:
            x, y = y, x
        src.append(acc[x])
        dst.append(acc[y])
        e = exact[k]
        dist.append(THRESHOLDS[int(e * 100) % 3] if e < 0.03 else canon[keys[k]])

    inf_src, inf_host = [], []
    kind = rng.random(n)
    for i in range(n):
        if kind[i] < 0.2:
            continue  # hostless
        hs = {hosts[gen_host[genus_of[i]]]}
        if kind[i] > 0.85:  # multi-host
            hs.update(hosts[h] for h in rng.choice(len(hosts), size=2, p=_zipf_p(len(hosts))))
        for h in sorted(hs):
            inf_src.append(acc[i])
            inf_host.append(h)

    return {
        "phage_nodes": nodes,
        "shares_dna": {"src": src, "dst": dst, "distance": dist},
        "infects": {"src": inf_src, "host_genus": inf_host},
        "lineages": lineages,
        "names": {"families": fams, "subfamilies": subs, "genera": gens, "hosts": hosts},
    }


_ARROW = {
    "phage_nodes": pa.schema([
        pa.field("accession", pa.string(), False), pa.field("source", pa.string()),
        pa.field("taxonomy", pa.string()), pa.field("genome_size", pa.int64()),
        pa.field("genus", pa.string()),
    ]),
    "shares_dna": pa.schema([
        pa.field("src", pa.string(), False), pa.field("dst", pa.string(), False),
        pa.field("distance", pa.float64(), False),
    ]),
    "infects": pa.schema([
        pa.field("src", pa.string(), False), pa.field("host_genus", pa.string(), False),
    ]),
}
LINEAGE_HEADER = ["accession", "taxid", "superkingdom", "phylum", "class", "order",
                  "family", "subfamily", "genus", "species"]


def write(data: dict, out: str) -> dict[str, str]:
    """Write the tables under ``out``; returns {table: path}."""
    os.makedirs(out, exist_ok=True)
    paths = {}
    for name, schema in _ARROW.items():
        p = os.path.join(out, f"{name}.parquet")
        pq.write_table(pa.table(data[name], schema=schema), p, compression="snappy")
        paths[name] = p
    p = os.path.join(out, "lineages.csv")
    with open(p, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(LINEAGE_HEADER)
        w.writerows(data["lineages"])
    paths["lineages"] = p
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=sorted(SIZES), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    data = generate(args.seed, args.size)
    for name, path in write(data, args.out).items():
        print(name, path)
    print("edges", len(data["shares_dna"]["src"]), "nodes", len(data["phage_nodes"]["accession"]))


if __name__ == "__main__":
    main()
