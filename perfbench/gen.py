"""Seeded input generators for the three benchmark workloads.

Every input is a pure function of (workload, seed, scale): the same
arguments write the same bytes. Each generator also writes the planted
truth the verifier checks against (`truth.json`).

    python3 perfbench/gen.py <workload> <seed> <out_dir> [--scale full|tiny]

Workloads:
  s1_timecourse  MaxQuant `Phospho (STY)Sites` TSV, 96 design labels x 3
                 multiplicities (288 intensity columns) + design CSV;
                 planted differential sites with three time patterns.
  keyed_stats    long-form parquet (feature, grp, sample, value), values at
                 2 decimals, Zipf-tailed per-feature sizes.
  curation       document corpus parquet (id, text, vec) with planted exact
                 duplicates, near-duplicate chains, junk and non-English
                 documents.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes: `full` is what the benchmark runs, `tiny` is for the self-tests.
SIZES = {
    "s1_timecourse": {"full": {"sites": 800}, "tiny": {"sites": 120}},
    "keyed_stats": {"full": {"features": 15000, "obs": 150000},
                    "tiny": {"features": 400, "obs": 6000}},
    "curation": {"full": {"docs": 8000}, "tiny": {"docs": 400}},
}

GROUPS = ["Control", "PGE2"]
TIMEPOINTS = [5, 10, 30, 60]
REPLICATES = [1, 2, 3]
TECHNICALS = [1, 2, 3, 4]
MULTIPLICITIES = [1, 2, 3]
# PGE2-minus-Control log2 effect per timepoint for each planted pattern.
PATTERNS = {
    "up": [1.5, 2.5, 3.5, 4.5],
    "down": [-1.5, -2.5, -3.5, -4.5],
    "transient": [1.5, 4.5, 4.5, 1.5],
}


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)
        f.write("\n")


def _write_parquet(table, out_dir, name, files):
    """Split `table` into `files` parquet files under out_dir/name/."""
    d = os.path.join(out_dir, name)
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, min(step, max(0, n - i * step)))
        pq.write_table(part, os.path.join(d, f"part-{i:03d}.parquet"),
                       compression="snappy", row_group_size=1 << 20)
    return d


# ---------------------------------------------------------------------------
# s1_timecourse
# ---------------------------------------------------------------------------
def gen_s1(seed, size, out_dir):
    rng = np.random.default_rng([seed, 1])
    n = size["sites"]
    labels = [(g, t, r, k) for g in GROUPS for t in TIMEPOINTS
              for r in REPLICATES for k in TECHNICALS]
    label_names = [f"{g}_{t}_{r}_{k}" for g, t, r, k in labels]

    with open(os.path.join(out_dir, "design.csv"), "w") as f:
        f.write("Label,Group,Timepoint,Replicate,Technical\n")
        for name, (g, t, r, k) in zip(label_names, labels):
            f.write(f"{name},{g},{t},{r},{k}\n")

    reverse = rng.random(n) < 0.02
    contaminant = rng.random(n) < 0.02
    low_loc = rng.random(n) < 0.06
    loc = np.where(low_loc, rng.uniform(0.2, 0.7, n), rng.uniform(0.8, 1.0, n))
    eligible = ~(reverse | contaminant | low_loc)
    elig_idx = np.flatnonzero(eligible)
    n_planted = max(6, n // 12)
    planted = np.sort(rng.choice(elig_idx, n_planted, replace=False))
    pattern_names = sorted(PATTERNS)
    pattern_of = {int(i): pattern_names[j % 3] for j, i in enumerate(planted)}

    base = rng.normal(25.0, 1.5, (n, len(MULTIPLICITIES)))
    g_idx = np.array([GROUPS.index(g) for g, _, _, _ in labels])
    t_idx = np.array([TIMEPOINTS.index(t) for _, t, _, _ in labels])
    bio = np.array([(GROUPS.index(g), TIMEPOINTS.index(t), r)
                    for g, t, r, _ in labels])
    # replicate-level (biological) noise shared by a replicate's technicals
    bio_keys = sorted(set(map(tuple, bio)))
    bio_pos = {k: i for i, k in enumerate(bio_keys)}
    bio_col = np.array([bio_pos[tuple(b)] for b in bio])

    # which multiplicities each site carries, and the per-cell missingness
    has_mult = np.ones((n, 3), dtype=bool)
    has_mult[:, 1] = rng.random(n) < 0.4
    has_mult[:, 2] = rng.random(n) < 0.15
    miss_rate = np.where(rng.random(n) < 0.2, 0.85, 0.15)

    cols = [f"Intensity {name}___{m}" for m in MULTIPLICITIES for name in label_names]
    values = np.zeros((n, len(cols)))
    for mi in range(3):
        bio_noise = rng.normal(0.0, 0.08, (n, len(bio_keys)))[:, bio_col]
        tech_noise = rng.normal(0.0, 0.15, (n, len(labels)))
        lv = base[:, mi:mi + 1] + bio_noise + tech_noise
        if mi == 0:
            for i in planted:
                eff = np.array(PATTERNS[pattern_of[int(i)]])[t_idx] * (g_idx == 1)
                lv[i] += eff
        miss = rng.random((n, len(labels))) < (miss_rate[:, None] if mi == 0 else 0.5)
        miss[~has_mult[:, mi]] = True
        if mi == 0:
            miss[planted] = False
        cells = np.rint(np.exp2(lv))
        cells[miss] = 0.0
        values[:, mi * len(labels):(mi + 1) * len(labels)] = cells

    aa = np.array(list("STY"))[rng.integers(0, 3, n)]
    with open(os.path.join(out_dir, "sites.txt"), "w") as f:
        head = ["id", "Proteins", "Positions within proteins", "Leading proteins",
                "Gene names", "Amino acid", "Localization prob", "PEP", "Score",
                "Reverse", "Potential contaminant"] + cols
        f.write("\t".join(head) + "\n")
        for i in range(n):
            prot = f"P{10000 + i // 3:05d}"
            row = [str(i), prot, str(1 + (i * 37) % 900), prot, f"GENE{i // 3}",
                   aa[i], f"{loc[i]:.6f}", f"{rng.random() * 1e-3:.3e}",
                   f"{50 + 100 * rng.random():.2f}",
                   "+" if reverse[i] else "", "+" if contaminant[i] else ""]
            row += ["%d" % v for v in values[i]]
            f.write("\t".join(row) + "\n")

    _write_json(os.path.join(out_dir, "truth.json"), {
        "workload": "s1_timecourse", "seed": seed, "sites": n,
        "intensity_cells": n * len(cols),
        "planted": {f"{i}___1": pattern_of[int(i)] for i in planted},
        "removed_by_filters": [int(i) for i in np.flatnonzero(~eligible)],
    })


# ---------------------------------------------------------------------------
# keyed_stats
# ---------------------------------------------------------------------------
def gen_keyed(seed, size, out_dir):
    rng = np.random.default_rng([seed, 2])
    nf, nobs = size["features"], size["obs"]
    n_hot = max(1, nf // 100)
    # Zipf tail: the hottest feature holds ~nobs/150 observations
    hot = np.floor((nobs / 150.0) / np.arange(1, n_hot + 1) ** 0.8).astype(np.int64)
    hot = np.maximum(hot, 30)
    rest = nobs - int(hot.sum())
    cold = rng.multinomial(rest - 6 * (nf - n_hot),
                           np.full(nf - n_hot, 1.0 / (nf - n_hot))) + 6
    sizes = np.concatenate([hot, cold])
    perm = rng.permutation(nf)
    sizes = sizes[perm]  # hot features get scattered ids
    feature = np.repeat(np.arange(nf, dtype=np.int64), sizes)
    n = feature.size
    # every feature gets at least two observations per group: the first
    # six rows of each feature cycle A,B,C, the rest draw uniformly
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    within = np.arange(n) - starts
    grp_idx = np.where(within < 6, within % 3, rng.integers(0, 3, n))
    groups = np.array(["A", "B", "C"])
    n_samples_per_group = 10
    sample_idx = grp_idx * n_samples_per_group + rng.integers(0, n_samples_per_group, n)
    sample = np.array([f"s{i:02d}" for i in range(3 * n_samples_per_group)])[sample_idx]
    mu = rng.uniform(15.0, 35.0, nf)[feature]
    shifted = rng.random(nf) < 0.05
    shift = np.where(shifted[feature] & (grp_idx == 1), 4.0, 0.0)
    value = np.round(mu + shift + rng.normal(0.0, 2.0, n), 2)
    value = np.clip(value, 0.01, 60.0)
    order = rng.permutation(n)
    table = pa.table({
        "feature": pa.array(feature[order]),
        "grp": pa.array(groups[grp_idx[order]]),
        "sample": pa.array(sample[order]),
        "value": pa.array(value[order]),
    })
    _write_parquet(table, out_dir, "obs", 8)
    _write_json(os.path.join(out_dir, "truth.json"), {
        "workload": "keyed_stats", "seed": seed, "observations": int(n),
        "features": int(nf), "hot_features": int(n_hot),
        "max_feature_obs": int(sizes.max()),
        "shifted_features": int(shifted.sum()),
    })


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------
_EN_STOP = ["the", "and", "of", "to", "in"]
_DE_STOP = ["der", "und", "die", "das", "ist"]


def _vocab(rng, size):
    letters = "abcdefghijklmnopqrstuvwxyz"
    codes = rng.integers(0, 26, (size * 2, 9))
    lens = rng.integers(4, 10, size * 2)
    words = set()
    for row, n in zip(codes, lens):
        words.add("".join(letters[c] for c in row[:n]))
        if len(words) == size:
            break
    return np.array(sorted(words))


def _sentence(rng, vocab, n_words, stop):
    words = vocab[rng.integers(0, len(vocab), n_words)].tolist()
    for pos in range(3, n_words, 9):
        words[pos] = stop[rng.integers(0, len(stop))]
    return words


def gen_curation(seed, size, out_dir):
    rng = np.random.default_rng([seed, 3])
    n = size["docs"]
    dim = 16
    vocab = _vocab(rng, 6000)
    n_junk = n // 25
    n_foreign = n // 25
    n_exact = n // 20
    n_chain_docs = n // 10
    # chain lengths cycle through 2..8 and copies through 1..3, so every
    # seed has the same duplicate structure (and connected-components
    # depth); only contents and ids vary with the seed
    chains = []
    left = n_chain_docs
    while left >= 2:
        length = min(left, 2 + len(chains) % 7)
        if left - length == 1:
            length += 1
        chains.append(length)
        left -= length
    n_unique = n - n_junk - n_foreign - n_exact - sum(chains)

    docs = []  # (text, vec, kind, family)
    for u in range(n_unique):
        words = _sentence(rng, vocab, int(rng.integers(60, 100)), _EN_STOP)
        docs.append((" ".join(words), rng.normal(0, 1, dim), "unique", f"u{u}"))
    for c, length in enumerate(chains):
        words = _sentence(rng, vocab, int(rng.integers(80, 110)), _EN_STOP)
        vec = rng.normal(0, 1, dim)
        for k in range(length):
            docs.append((" ".join(words), vec + rng.normal(0, 0.005, dim),
                         "near_dup", f"c{c}"))
            words = words + [str(vocab[rng.integers(0, len(vocab))])]
    for _ in range(n_junk):
        # digit-only tokens: the digit ratio keeps the quality score < 0.2
        toks = ["".join(str(c) for c in rng.integers(0, 10, rng.integers(3, 8)))
                for _ in range(int(rng.integers(10, 30)))]
        docs.append((" ".join(toks), rng.normal(0, 1, dim), "junk", None))
    for _ in range(n_foreign):
        words = _sentence(rng, vocab, int(rng.integers(60, 100)), _DE_STOP)
        docs.append((" ".join(words), rng.normal(0, 1, dim), "foreign", None))
    # exact duplicates copy a unique document verbatim (1-3 copies each)
    copies = []
    sources = rng.permutation(n_unique)
    while len(copies) < n_exact:
        src = int(sources[len(copies) % n_unique])
        for _ in range(1 + len(copies) % 3):
            if len(copies) < n_exact:
                copies.append(src)
    for src in copies:
        text, vec, _, fam = docs[src]
        docs.append((text, vec.copy(), "exact_dup", fam))

    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    families = {}
    junk_ids, foreign_ids = [], []
    for (text, vec, kind, fam), i in zip(docs, ids):
        if kind == "junk":
            junk_ids.append(int(i))
        elif kind == "foreign":
            foreign_ids.append(int(i))
        else:
            families.setdefault(fam, []).append(int(i))
    kept = sorted(min(m) for m in families.values())
    order = np.argsort(ids)
    table = pa.table({
        "id": pa.array(ids[order]),
        "text": pa.array([docs[j][0] for j in order]),
        "vec": pa.array([np.round(docs[j][1], 6).tolist() for j in order],
                        type=pa.list_(pa.float64())),
    })
    _write_parquet(table, out_dir, "docs", 4)
    _write_json(os.path.join(out_dir, "truth.json"), {
        "workload": "curation", "seed": seed, "documents": len(docs),
        "kept": kept, "junk": sorted(junk_ids), "foreign": sorted(foreign_ids),
        "families": {k: sorted(v) for k, v in families.items() if len(v) > 1},
        "dim": dim,
    })


GENERATORS = {"s1_timecourse": gen_s1, "keyed_stats": gen_keyed, "curation": gen_curation}


def generate(workload, seed, out_dir, scale="full"):
    os.makedirs(out_dir, exist_ok=True)
    GENERATORS[workload](int(seed), SIZES[workload][scale], out_dir)


if __name__ == "__main__":
    args = sys.argv[1:]
    scale = "full"
    if "--scale" in args:
        i = args.index("--scale")
        scale = args[i + 1]
        del args[i:i + 2]
    if len(args) != 3 or args[0] not in GENERATORS:
        sys.exit(__doc__)
    generate(args[0], args[1], args[2], scale)
