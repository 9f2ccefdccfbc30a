"""Verify stage: the shared exact-Jaccard primitive and near-pair parity
on a corpus whose LSH buckets go over bucket_cap."""

import numpy as np
import pandas as pd

from pcompress_spark import kernels as K
from pcompress_spark.config import DedupConfig
from pcompress_spark.operators.assemble import assemble
from pcompress_spark.operators.candidates import candidate_pairs
from pcompress_spark.operators.signatures import compute_signatures
from pcompress_spark.operators.verify import verify_pairs, with_exact_jaccard

CFG = DedupConfig()


def test_with_exact_jaccard_cases(spark):
    """inter/jaccard per row on the edge cases (empty/empty takes the
    union == 0 fallback), a pair sitting exactly on jaccard_threshold, and
    random sets; the Generate barrier keeps exactly one row per input row."""
    rng = np.random.default_rng(3)
    cases = [
        ([], []),                          # union == 0 -> fallback
        ([], [1, 2, 3]),                   # empty / non-empty
        ([4, 5, 6], [4, 5, 6]),            # identical
        ([1, 2], [3, 4, 5]),               # disjoint
        ([1, 2, 3], [1, 2, 3, 4, 5, 6]),   # exactly 3 / 6 = threshold
        ([4, 5, 6], [4, 5, 6]),            # duplicate row: must stay two rows
    ]
    for _ in range(40):
        a = np.unique(rng.integers(-50, 50, size=rng.integers(0, 30)))
        b = np.unique(rng.integers(-50, 50, size=rng.integers(0, 30)))
        cases.append((a.tolist(), b.tolist()))
    assert K.jaccard_sorted(np.array(cases[4][0]), np.array(cases[4][1])) \
        == CFG.jaccard_threshold
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)],
        "id int, sh_a array<bigint>, sh_b array<bigint>",
    )
    out = with_exact_jaccard(df, "sh_a", "sh_b").toPandas()
    assert sorted(out["id"]) == list(range(len(cases)))
    for rid, inter, jac in zip(out["id"], out["inter"], out["jaccard"]):
        a, b = (np.array(x, dtype=np.int64) for x in cases[rid])
        want = K.jaccard_sorted(a, b)
        # jaccard_sorted = inter / (|a| + |b| - inter)  =>  inter below
        assert inter == round(want * (len(a) + len(b)) / (1 + want)), rid
        assert jac == want, rid
    # caller-chosen fallback for the empty/empty pair only
    zero = (with_exact_jaccard(df, "sh_a", "sh_b", empty=0.0).toPandas()
            .set_index("id")["jaccard"].sort_index())
    base = out.set_index("id")["jaccard"].sort_index()
    assert zero.iloc[0] == 0.0 and base.iloc[0] == 1.0
    assert zero.iloc[1:].equals(base.iloc[1:])
    # the threshold pair survives the verify filter (>=, not >)
    kept = (
        with_exact_jaccard(df, "sh_a", "sh_b")
        .where(f"jaccard >= {CFG.jaccard_threshold}")
        .select("id").toPandas()["id"]
    )
    assert 4 in set(kept) and 3 not in set(kept)


def _hot_family(n_clones: int = 40, seed: int = 9) -> pd.DataFrame:
    """One template conversation (6 turns x 60 tokens), n_clones light
    edits of it (one or two tokens swapped in one turn), one exact copy,
    and a few unrelated conversations."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(3000)]

    def turns(cid, texts):
        return [(cid, t, "user" if t % 2 == 0 else "assistant", x, "")
                for t, x in enumerate(texts)]

    tmpl = [" ".join(rng.choice(vocab, size=60)) for _ in range(6)]
    rows = turns("tpl-000", tmpl) + turns("tpl-exact", tmpl)
    for j in range(1, n_clones + 1):
        texts = list(tmpl)
        t = int(rng.integers(0, 6))
        words = texts[t].split()
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, 60))] = str(rng.choice(vocab))
        texts[t] = " ".join(words)
        rows += turns(f"tpl-{j:03d}", texts)
    for j in range(8):
        rows += turns(f"other-{j}",
                      [" ".join(rng.choice(vocab, size=40)) for _ in range(4)])
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool"])


def test_hot_bucket_near_pairs_match_reference(spark):
    """With the clone family over bucket_cap, every LSH bucket it lands in
    is salted and capped; the verified near pairs and their jaccard values
    must still equal a pandas reference over the SAME candidates (MinHash
    prefilter, content-hash exclusion, exact shingle Jaccard threshold)."""
    cfg = DedupConfig(bucket_cap=16)
    tr = _hot_family()
    sig = compute_signatures(
        assemble(spark.createDataFrame(tr), parallelism=4), cfg
    ).cache()
    cand, stats = candidate_pairs(sig, cfg, persist_sizes=True)
    st = stats.collect()[0].asDict()
    assert st["max_bucket_size"] > cfg.bucket_cap, st
    assert st["hot_member_rows"] > 0, st

    eng = verify_pairs(sig, cand, cfg).toPandas()
    eng = eng[eng["match_kind"] == "near"]
    got = dict(zip(zip(eng["conv_id_a"], eng["conv_id_b"]), eng["jaccard"]))
    assert len(got) == len(eng)

    rows = sig.select("id_hash", "conv_id", "content_hash", "shingles",
                      "minhash").toPandas().set_index("id_hash")
    want = {}
    for a, b in cand.select("ih_a", "ih_b").toPandas().itertuples(index=False):
        ra, rb = rows.loc[a], rows.loc[b]
        if ra.content_hash == rb.content_hash:
            continue
        est = K.minhash_est(np.asarray(ra.minhash), np.asarray(rb.minhash))
        if est < cfg.minhash_prefilter:
            continue
        jac = K.jaccard_sorted(np.asarray(ra.shingles, dtype=np.int64),
                               np.asarray(rb.shingles, dtype=np.int64))
        if jac >= cfg.jaccard_threshold:
            want[tuple(sorted((ra.conv_id, rb.conv_id)))] = jac
    assert len(want) > cfg.bucket_cap  # the hot family really verifies
    assert got == want
    sig.unpersist()
