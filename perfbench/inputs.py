"""Benchmark inputs and their planted truth, generated from the seed.

Everything the engine reads is a parquet file written here; the truth
tables never reach the engine. Inputs are cached under the checkout's
``.bench_work/inputs`` keyed by (workload, seed, size), so a repeated run
skips generation, and generation never counts toward any timed figure.

Truth is kept as *groups*: conversations that must end up in one cluster.
For the ``datagen`` corpus a group is a planted ``exact`` or ``near_high``
family (the families the dedup north rule judges; ``near_mid`` and
``substring`` pairs are flagged, not required to cluster). For
``batch_skewed`` each template with all its clones is one more group.
Cluster-pair recall over groups equals recall over every pair inside
each group, and restricting a group to the conversations present equals
restricting the truth pairs to pairs with both endpoints present.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from pcompress_spark import datagen
from pcompress_spark.config import DedupConfig

# Sizes keep one operation near 10-15 s on 4 cores, so a whole run (JVM
# start, the cold warm-up operation, one or two timed operations) stays
# near 50 s. ``tiny`` is for the self-test only.
SIZES = {
    "full": {
        "batch_mixed": {"n_conv": 400},
        # templates must outnumber bucket_cap so their LSH buckets go hot
        "batch_skewed": {"n_conv": 200, "templates": 1, "clones": 450},
        "delta_ingest": {"n_conv": 400, "deltas": 4, "delta_convs": 50},
    },
    "tiny": {
        "batch_mixed": {"n_conv": 120},
        "batch_skewed": {"n_conv": 120, "templates": 1, "clones": 270},
        "delta_ingest": {"n_conv": 200, "deltas": 2, "delta_convs": 30},
    },
}

TRUTH_FAMILIES = ("exact", "near_high")
TEMPLATE_TURNS, TEMPLATE_TOKENS = 6, 60


def _groups(conv_ids, truth_pairs: pd.DataFrame) -> pd.Series:
    """conv_id -> truth group id over the TRUTH_FAMILIES pairs (union-find;
    ungrouped conversations map to themselves)."""
    parent = {c: c for c in conv_ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    keep = truth_pairs[truth_pairs["family"].isin(TRUTH_FAMILIES)]
    for a, b in zip(keep["conv_id_a"], keep["conv_id_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.Series({c: find(c) for c in conv_ids}, name="group")


def _light_edit(rng: np.random.Generator, turns: pd.DataFrame,
                conv_id: str) -> pd.DataFrame:
    """A light edit of a conversation: ~3% of its turns (at least one) get
    one or two tokens swapped for other tokens of the same conversation —
    the shape a shared system prompt or tool preamble takes across real
    agent transcripts."""
    out = turns.copy()
    out["conv_id"] = conv_id
    pool = " ".join(turns["text"]).split()
    n_edit = max(1, int(round(0.03 * len(out))))
    texts = out["text"].tolist()
    for i in rng.choice(len(texts), size=n_edit, replace=False):
        words = texts[i].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = pool[int(rng.integers(0, len(pool)))]
        texts[i] = " ".join(words)
    out["text"] = texts
    return out


def _template(turns: pd.DataFrame, conv_id: str) -> pd.DataFrame:
    """A fixed-shape template (TEMPLATE_TURNS turns of TEMPLATE_TOKENS
    tokens) cut from the text of a generated conversation, so the
    workload's size does not swing with the seed."""
    words = " ".join(turns["text"]).split()
    out = turns.head(TEMPLATE_TURNS).copy()
    out["conv_id"] = conv_id
    out["text"] = [" ".join(words[i * TEMPLATE_TOKENS:(i + 1) * TEMPLATE_TOKENS])
                   for i in range(TEMPLATE_TURNS)]
    return out


def _skewed(seed: int, n_conv: int, templates: int, clones: int):
    if clones + 1 <= DedupConfig().bucket_cap:
        raise ValueError("template families must outnumber bucket_cap")
    gen = datagen.generate(seed=seed, n_conv=n_conv, dup_frac=0.30)
    tr = gen.transcripts
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    by_conv = {c: g.sort_values("turn_idx") for c, g in tr.groupby("conv_id")}
    need = TEMPLATE_TURNS * TEMPLATE_TOKENS
    eligible = sorted(c for c, g in by_conv.items()
                      if len(g) >= TEMPLATE_TURNS and g["text"].str.split().str.len().sum() >= need)
    parts, tmpl_groups = [tr], {}
    for t, src in enumerate(sorted(rng.choice(eligible, size=templates, replace=False))):
        tid = f"conv-tpl{t:02d}-00000"
        tmpl = _template(by_conv[src], tid)
        parts.append(tmpl)
        tmpl_groups[tid] = tid
        for j in range(1, clones + 1):
            cid = f"conv-tpl{t:02d}-{j:05d}"
            parts.append(_light_edit(rng, tmpl, cid))
            tmpl_groups[cid] = tid
    out = pd.concat(parts, ignore_index=True)
    out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
    groups = _groups(sorted(set(tr["conv_id"])), gen.truth_pairs)
    return out, pd.concat([groups, pd.Series(tmpl_groups, name="group")])


def _probe(seed: int, tr: pd.DataFrame, n: int = 20) -> pd.DataFrame:
    """The delta the traced run of a batch workload admits against that
    workload's corpus: light-edit clones of ``n`` corpus conversations that
    are not template clones (their hot buckets belong to the measured
    operation, not to this per-layer probe)."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    ids = sorted(c for c in set(tr["conv_id"]) if not c.startswith("conv-tpl"))
    parts = [
        _light_edit(rng, tr[tr["conv_id"] == cid].sort_values("turn_idx"),
                        f"conv-probe-{j:05d}")
        for j, cid in enumerate(rng.choice(ids, size=n, replace=False))
    ]
    return pd.concat(parts, ignore_index=True)


def _write(path: str, df: pd.DataFrame) -> None:
    df.to_parquet(path, index=False)


def build(root: str, workload: str, seed: int, size: str) -> str:
    """Generate (or reuse) the inputs of one (workload, seed, size) and
    return their directory. Layout:
      transcripts.parquet            the batch corpus (batch workloads)
      probe.parquet                  delta for the traced run (batch workloads)
      corpus.parquet, delta_<k>.parquet   (delta_ingest)
      groups.parquet                 conv_id -> truth group
      meta.json                      turn counts and sizes
    """
    spec = SIZES[size][workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(spec.items()))
    out = os.path.join(root, ".bench_work", "inputs", f"{workload}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta: dict = {"workload": workload, "seed": seed, "size": size, **spec}
    if workload in ("batch_mixed", "batch_skewed"):
        if workload == "batch_mixed":
            gen = datagen.generate(seed=seed, n_conv=spec["n_conv"], dup_frac=0.30)
            tr = gen.transcripts
            groups = _groups(sorted(set(tr["conv_id"])), gen.truth_pairs)
        else:
            tr, groups = _skewed(seed, spec["n_conv"], spec["templates"], spec["clones"])
        _write(os.path.join(tmp, "transcripts.parquet"), tr)
        _write(os.path.join(tmp, "probe.parquet"), _probe(seed, tr))
        meta["turns"] = len(tr)
    elif workload == "delta_ingest":
        n_held = spec["deltas"] * spec["delta_convs"]
        gen = datagen.generate(seed=seed, n_conv=spec["n_conv"] + n_held, dup_frac=0.30)
        tr = gen.transcripts
        ids = np.array(sorted(set(tr["conv_id"])))
        rng = np.random.Generator(np.random.PCG64([seed, 2]))
        held = rng.permutation(ids)[:n_held]
        # deal the held-out conversations to the deltas in order of length,
        # so every delta carries about the same number of turns
        n_turns = tr.groupby("conv_id").size()
        held = sorted(held, key=lambda c: (n_turns[c], c))
        part = pd.Series(-1, index=ids)
        part[held] = np.arange(n_held) % spec["deltas"]
        groups = _groups(list(ids), gen.truth_pairs)
        where = part.loc[tr["conv_id"]].to_numpy()
        _write(os.path.join(tmp, "corpus.parquet"), tr[where < 0])
        meta["delta_turns"] = []
        for k in range(spec["deltas"]):
            d = tr[where == k]
            _write(os.path.join(tmp, f"delta_{k}.parquet"), d)
            meta["delta_turns"].append(len(d))
        _write(os.path.join(tmp, "delta_of.parquet"),
               part.rename("delta").rename_axis("conv_id").reset_index())
    else:
        raise ValueError(f"unknown workload {workload!r}")
    _write(os.path.join(tmp, "groups.parquet"),
           groups.rename_axis("conv_id").reset_index())
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
