"""Incremental (delta-vs-corpus) batch deduplication — the daily-ingest
admission pass a web-scale training-data pipeline actually runs.

Reference analog: pcompress's pipe/global mode probes a PERSISTENT
segmented similarity index instead of rebuilding it per invocation
(/root/reference/rabin/global/index.c:140-151); the streaming twin of this
module (streaming/dedup_stream._near_dup_process) does the same per
micro-batch. This is the BATCH form: a new delta of documents is admitted
against an existing corpus without re-banding or re-pairing the corpus.

Scale shape (the whole point at 100 TB):
  - signatures are computed for the DELTA only when corpus signatures are
    supplied (at scale they are persisted stage tables from the corpus's
    own dedup run — pass them via ``corpus_sig``/``corpus_bands``);
  - the corpus band table is probed with a broadcast semi-join on the
    delta's distinct bucket keys, so only corpus rows in TOUCHED buckets
    survive a map-side filter over a 4-column scan: per-run shuffle work
    is O(delta + touched members), never O(corpus);
  - hot-bucket salting/capping (the shared ``bucket_members`` path) runs
    on the union membership of each touched bucket, which is bit-identical
    to what a full-corpus re-run would compute for that bucket — so the
    emitted pairs are EXACTLY the full run's pairs restricted to >= 1
    delta endpoint. The DuckDB oracle exploits that equivalence: it
    computes the full pair set in SQL and filters on the endpoint
    predicate, pinning the incremental plan to full-batch semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..config import DedupConfig
from ..operators.candidates import bucket_members, bucket_pairs
from ..operators.verify import with_exact_jaccard
from .doc_dedup import doc_band_explode, doc_signatures


def _delta_endpoint_pairs(cand: DataFrame, delta_ids: DataFrame) -> DataFrame:
    """Candidate pairs with >= 1 endpoint in ``delta_ids`` (doc_id col).
    Touched buckets can still emit corpus-corpus pairs (a hot bucket may
    salt-drop its delta members); those are already known from the
    corpus's own run and are filtered here. The delta id set is the small
    side by construction (a daily batch), so both semi-joins broadcast."""
    return (
        cand.join(
            F.broadcast(delta_ids.withColumnRenamed("doc_id", "doc_id_a")),
            "doc_id_a",
            "left_semi",
        )
        .unionByName(
            cand.join(
                F.broadcast(delta_ids.withColumnRenamed("doc_id", "doc_id_b")),
                "doc_id_b",
                "left_semi",
            )
        )
        .distinct()
    )


def incremental_lsh_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_sig: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs (doc_id_a, doc_id_b, jaccard) between the
    delta and (corpus ∪ delta), WITHOUT re-pairing the corpus: every pair
    has >= 1 delta endpoint; corpus-corpus pairs are the corpus run's job.

    ``corpus_sig``/``corpus_bands``: persisted stage tables from the
    corpus's own dedup run. When omitted (ad-hoc/test use) they are
    computed here from ``corpus`` — correct but O(corpus); production
    callers at scale MUST pass them (module docstring).
    ``delta_sig``: precomputed delta signatures — callers that also fold
    signatures into state (tools/run_incremental.py) materialize them once
    and pass them here so the Arrow signature kernels run a single time
    per delta."""
    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    csig = cache.persist(corpus_sig if corpus_sig is not None
                         else doc_signatures(corpus, cfg))
    dsig = cache.persist(delta_sig if delta_sig is not None
                         else doc_signatures(delta, cfg))
    cbands = (corpus_bands if corpus_bands is not None
              else doc_band_explode(csig, cfg))
    dbands = doc_band_explode(dsig, cfg)
    touched_keys = dbands.select("band_idx", "band_hash").distinct()
    touched = cbands.join(
        F.broadcast(touched_keys), ["band_idx", "band_hash"], "left_semi"
    )
    all_bands = touched.unionByName(dbands)
    buckets, _stats = bucket_members(
        all_bands, cfg, id_col="doc_id", salt_col="id_hash", persist_sizes=False
    )
    cand = bucket_pairs(buckets, "doc_id_a", "doc_id_b").distinct()
    cand = _delta_endpoint_pairs(cand, dsig.select("doc_id"))
    all_sig = csig.select("doc_id", "shingles").unionByName(
        dsig.select("doc_id", "shingles")
    )
    # verify shape (same rule as operators/verify.near_pairs): BROADCAST the
    # bare pair list to BOTH probe joins and join the enriched sides on the
    # composite pair key — a chained cand ⋈ a ⋈ b plan would shuffle+sort
    # the corpus-wide shingle-ARRAY table on the second join key (the
    # O(corpus) exchange this architecture forbids). The pair list is
    # delta-endpoint-bounded by construction (a daily batch), so it always
    # broadcasts.
    bare = F.broadcast(cand.select("doc_id_a", "doc_id_b"))
    a = all_sig.select(F.col("doc_id").alias("doc_id_a"),
                       F.col("shingles").alias("sh_a")).join(bare, "doc_id_a")
    b = all_sig.select(F.col("doc_id").alias("doc_id_b"),
                       F.col("shingles").alias("sh_b")).join(bare, "doc_id_b")
    return (
        with_exact_jaccard(a.join(b, ["doc_id_a", "doc_id_b"]), "sh_a", "sh_b")
        .select("doc_id_a", "doc_id_b", F.round("jaccard", 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def corpus_md5_index(corpus: DataFrame) -> DataFrame:
    """(content_md5, c_rep) exact-dup index over the corpus — min doc_id
    per content hash, the relational form of the reference's persistent
    global exact index (/root/reference/rabin/global/index.c:485-558).
    At scale this is a stage table written ONCE by the corpus's own dedup
    run; per-delta admission then probes it with a broadcast of the
    delta's hashes instead of re-scanning + re-aggregating corpus text."""
    return (
        corpus.select(F.md5("text").alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("c_rep"))
    )


def _delta_exact_edges(
    corpus: DataFrame, delta: DataFrame, corpus_md5: DataFrame | None = None
) -> DataFrame:
    """Exact-dup edges with the delta endpoint first: (doc_id, partner)
    where partner is the corpus exact-index hit (min corpus doc_id of the
    hash — every such delta doc links there) and/or the earliest delta doc
    with the same hash (d_min < doc_id). Both edges are emitted when both
    exist — for CLUSTER connectivity more evidence never hurts, unlike
    admission's single-partner verdict. The corpus index probe broadcasts
    the delta hash set, so the index scan is map-side (no corpus shuffle
    when ``corpus_md5`` is a persisted stage table)."""
    cmd5 = corpus_md5 if corpus_md5 is not None else corpus_md5_index(corpus)
    dmd5 = delta.select("doc_id", F.md5("text").alias("content_md5"))
    dmin = dmd5.groupBy("content_md5").agg(F.min("doc_id").alias("d_min"))
    e1 = cmd5.join(F.broadcast(dmd5), "content_md5").select(
        "doc_id", F.col("c_rep").alias("partner")
    )
    e2 = (
        dmd5.join(dmin, "content_md5")
        .where(F.col("d_min") < F.col("doc_id"))
        .select("doc_id", F.col("d_min").alias("partner"))
    )
    return e1.unionByName(e2).distinct()


def incremental_clusters(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_labels: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    corpus_md5: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Incremental cluster maintenance: merge a delta's duplicate evidence
    into the corpus's persisted cluster assignment WITHOUT re-clustering
    the corpus. Output (doc_id, cluster_id) covers corpus ∪ delta;
    cluster_id = min doc_id of the merged component (the same
    first-occurrence-wins label rule as every other cluster surface).

    Contract: the result is connected components over
      corpus evidence   — the corpus run's own verdict, taken as the
                          label STAR of ``corpus_labels`` (collapsing each
                          corpus component to rep->member edges preserves
                          connectivity exactly), and
      delta evidence    — incremental_lsh_pairs (>= 1 delta endpoint,
                          bit-identical to a full-batch run's pairs
                          restricted to that predicate) plus exact-md5
                          edges from delta docs to the corpus exact index
                          / earlier delta docs.
    Components the delta never touches keep their corpus labels verbatim
    (anti-join passthrough — their rows are never shuffled into the CC).

    Scale shape (the point at 100 TB): with persisted stage tables passed
    in (``corpus_labels``, ``corpus_sig``, ``corpus_bands``,
    ``corpus_md5`` — all written once by the corpus's own run), per-delta
    work is O(delta + touched buckets + touched components): the label
    table is scanned map-side three times (touched-rep lookup, member
    pull, anti-join passthrough) against BROADCAST delta-bounded key sets,
    and the CC itself runs only on touched members + delta docs. Nothing
    re-pairs, re-bands, or re-shuffles the corpus. When the persisted
    inputs are omitted (ad-hoc/test use) they are computed here — correct
    but O(corpus), per incremental_lsh_pairs' module docstring.

    Reference analog: the persistent global index admits new blocks
    against prior occupants without revisiting them
    (/root/reference/rabin/global/index.c:140-151, 485-558); clustering is
    the backward-reference closure of those hits."""
    from ..operators.cluster import connected_components
    from .doc_dedup import neardup_clusters

    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    labels = cache.persist(
        corpus_labels if corpus_labels is not None
        else neardup_clusters(corpus, cfg, threshold)
    )
    # ``pairs``: precomputed near-dup evidence (doc_id_a, doc_id_b[, ...])
    # from an earlier incremental_lsh_pairs run — callers that materialize
    # the pair parquet anyway (tools/run_incremental.py) pass it back in so
    # the banding/verify chain executes ONCE per run, not once per surface
    # (the streaming twin reads its just-written pair parquet for the same
    # reason, streaming/dedup_stream.py _near_dup_process).
    near = (
        pairs if pairs is not None else incremental_lsh_pairs(
            corpus, delta, cfg, threshold, corpus_sig, corpus_bands
        )
    ).select("doc_id_a", "doc_id_b")
    exact = _delta_exact_edges(corpus, delta, corpus_md5).select(
        F.col("doc_id").alias("doc_id_a"), F.col("partner").alias("doc_id_b")
    )
    edges = cache.persist(near.unionByName(exact).distinct())
    endpoints = (
        edges.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    # delta-bounded key sets broadcast against the corpus-sized label scan
    touched = (
        labels.join(F.broadcast(endpoints), "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = labels.join(F.broadcast(touched), "cluster_id", "left_semi")
    star = members.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("doc_id_a"), F.col("doc_id").alias("doc_id_b")
    )
    nodes = (
        delta.select("doc_id")
        .unionByName(members.select("doc_id"))
        .distinct()
        .select(F.col("doc_id").alias("conv_id"), F.col("doc_id").alias("id_hash"))
    )
    cc_edges = edges.unionByName(star).select(
        F.col("doc_id_a").alias("ih_a"), F.col("doc_id_b").alias("ih_b")
    )
    cc = connected_components(nodes, cc_edges, cfg).select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    # replay safety: when a prior attempt already merged THIS delta into
    # corpus_labels (a re-run of a completed or commit-crashed daily run),
    # a singleton delta doc sits in labels but is no edge endpoint, so its
    # old row would pass the cluster anti-join while CC re-emits it via the
    # delta node set — two rows for one doc. Delta docs therefore always
    # exit through the CC side only.
    untouched = labels.join(F.broadcast(touched), "cluster_id", "left_anti").join(
        F.broadcast(delta.select("doc_id")), "doc_id", "left_anti"
    )
    return untouched.select("doc_id", "cluster_id").unionByName(cc)


def incremental_transcript_pairs(
    corpus_tr: DataFrame,
    delta_tr: DataFrame,
    cfg: DedupConfig | None = None,
    corpus_sig: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
) -> DataFrame:
    """Delta-vs-corpus admission for the PRIMARY axis: verified duplicate
    pairs (conv_id_a, conv_id_b, jaccard, match_kind) between a delta of
    new conversations and (corpus ∪ delta), every pair with >= 1 delta
    endpoint — the batch daily-ingest form of the transcript pipeline
    (the streaming twin is streaming/dedup_stream._near_dup_process; the
    documents twin is incremental_lsh_pairs above). At the 10^12-turn
    design point the corpus pipeline runs once and each day's
    conversations are admitted against its checkpointed stage tables —
    corpus text is never re-read, re-shingled, or re-paired.

    ``corpus_sig``/``delta_sig``: precomputed signature tables
    (operators.signatures.compute_signatures; the pipeline checkpoints
    corpus_sig under work_dir/signatures). When omitted they are computed
    here — correct but O(corpus) for the corpus side.

    Scale shape (same as the doc twin): the corpus band table is derived
    map-only from the signature table's precomputed ``band_hashes`` column
    (a bands x 8 B scan — no kernel re-run) and probed with a BROADCAST of
    the delta's distinct bucket keys, so only corpus rows in TOUCHED
    buckets survive a map-side filter; hot-bucket salting/capping sees the
    union membership of each touched bucket, which is bit-identical to the
    full run's membership there — emitted pairs are EXACTLY the full run's
    pairs restricted to >= 1 delta endpoint (the DuckDB oracle pins that
    equivalence). Verification rides operators.verify.near_pairs (bare
    pair list broadcast to both probes — no corpus-keyed array exchange);
    the exact channel stars only content-hash groups the delta touches.

    Reference analog: pipe-mode probes of the persistent segmented index
    (/root/reference/rabin/global/index.c:140-151, 485-558)."""
    from ..operators.assemble import assemble
    from ..operators.candidates import band_explode, bucket_members, bucket_pairs
    from ..operators.signatures import compute_signatures
    from ..operators.verify import exact_pairs, near_pairs

    cfg = cfg or DedupConfig()
    csig = cache.persist(corpus_sig if corpus_sig is not None
                         else compute_signatures(assemble(corpus_tr), cfg))
    dsig = cache.persist(delta_sig if delta_sig is not None
                         else compute_signatures(assemble(delta_tr), cfg))
    dbands = band_explode(dsig, cfg)
    touched = band_explode(csig, cfg).join(
        F.broadcast(dbands.select("band_idx", "band_hash").distinct()),
        ["band_idx", "band_hash"],
        "left_semi",
    )
    buckets, _stats = bucket_members(
        touched.unionByName(dbands), cfg, persist_sizes=False
    )
    cand = bucket_pairs(buckets, "ih_a", "ih_b").groupBy("ih_a", "ih_b").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands")
    )
    d_ih = dsig.select("id_hash")
    cand = (
        cand.join(F.broadcast(d_ih.withColumnRenamed("id_hash", "ih_a")),
                  "ih_a", "left_semi")
        .unionByName(
            cand.join(F.broadcast(d_ih.withColumnRenamed("id_hash", "ih_b")),
                      "ih_b", "left_semi"))
        .distinct()
    )
    sig_all = csig.unionByName(dsig)
    near = near_pairs(sig_all, cand, cfg)
    # exact channel: star only the content-hash groups the delta touches
    # (identical to the full run's star for those groups — group membership
    # is hash-determined), then keep edges with a delta endpoint
    sig_exact = sig_all.join(
        F.broadcast(dsig.select("content_hash").distinct()),
        "content_hash", "left_semi",
    )
    ex = exact_pairs(sig_exact)
    ex = (
        ex.join(F.broadcast(d_ih.withColumnRenamed("id_hash", "ih_a")),
                "ih_a", "left_semi")
        .unionByName(
            ex.join(F.broadcast(d_ih.withColumnRenamed("id_hash", "ih_b")),
                    "ih_b", "left_semi"))
        .distinct()
    )
    return near.unionByName(ex)


def incremental_transcript_admission(
    delta_ids: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Per-delta-conversation admission verdict from the evidence pairs
    (incremental_transcript_pairs): (conv_id, keep, dup_kind, dup_of) —
    the transcript twin of incremental_admission, derived entirely from
    the materialized pair table (no second verify pass).

    Rule (deterministic, first-occurrence-wins with corpus priority —
    reference first-writer-wins at the index,
    /root/reference/rabin/global/index.c:485-558): a delta conversation's
    duplicate partner is the MIN conv_id over its pair neighbors that are
    either corpus conversations (priority regardless of lexicographic
    order) or EARLIER (smaller conv_id) delta conversations; exact
    outranks near when both exist. The exact channel's star edges suffice
    for this rule: the star representative is the content group's global
    min, so every member's min valid neighbor IS the representative, and
    a delta representative of a group containing corpus members sees them
    as member-side neighbors. dup_of = '' when kept (null-free output).

    ``delta_ids``: one conv_id per delta conversation (the admission
    universe — kept conversations appear with keep=1)."""
    d_ids = delta_ids.select("conv_id").distinct()
    sym = pairs.select(
        F.col("conv_id_a").alias("conv_id"),
        F.col("conv_id_b").alias("nbr"), "match_kind",
    ).unionByName(pairs.select(
        F.col("conv_id_b").alias("conv_id"),
        F.col("conv_id_a").alias("nbr"), "match_kind",
    ))
    mine = sym.join(F.broadcast(d_ids), "conv_id", "left_semi")
    nbr_delta = d_ids.select(F.col("conv_id").alias("nbr")).withColumn(
        "nbr_is_delta", F.lit(1)
    )
    valid = (
        mine.join(F.broadcast(nbr_delta), "nbr", "left")
        .where(F.col("nbr_is_delta").isNull() | (F.col("nbr") < F.col("conv_id")))
    )
    ex = valid.where(F.col("match_kind") == "exact").groupBy("conv_id").agg(
        F.min("nbr").alias("exact_of"))
    nr = valid.where(F.col("match_kind") == "near").groupBy("conv_id").agg(
        F.min("nbr").alias("near_of"))
    return (
        d_ids.join(ex, "conv_id", "left")
        .join(nr, "conv_id", "left")
        .select(
            "conv_id",
            F.when(F.col("exact_of").isNotNull() | F.col("near_of").isNotNull(),
                   F.lit(0)).otherwise(F.lit(1)).cast("int").alias("keep"),
            F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("near_of").isNotNull(), F.lit("near"))
            .otherwise(F.lit("none")).alias("dup_kind"),
            F.coalesce("exact_of", "near_of", F.lit("")).alias("dup_of"),
        )
    )


def incremental_transcript_clusters(
    corpus_tr: DataFrame,
    delta_tr: DataFrame,
    cfg: DedupConfig | None = None,
    corpus_labels: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Incremental cluster maintenance for TRANSCRIPTS: merge a delta's
    duplicate evidence (incremental_transcript_pairs) into the corpus
    pipeline's persisted cluster assignment without re-clustering the
    corpus — (conv_id, cluster_id) over corpus ∪ delta, cluster_id = min
    conv_id of the merged component (the pipeline's own label rule).
    The transcript twin of incremental_clusters: untouched components
    pass through an anti-join verbatim; CC runs only over touched members
    + delta conversations + evidence endpoints (string labels ride 64-bit
    id_hash edges through the CC, exactly like the pipeline).

    ``corpus_labels``: the pipeline's checkpointed clusters table. When
    omitted (ad-hoc/test use) the corpus's own cluster pass runs here —
    correct but O(corpus). ``pairs``: precomputed evidence (callers that
    materialize the pair output pass it back, same contract as the doc
    twin). Member id_hashes resolve against the corpus signature table
    behind an evidence-bounded join — the label table itself stays a
    narrow 2-column scan."""
    from ..operators.assemble import assemble
    from ..operators.candidates import candidate_pairs
    from ..operators.cluster import connected_components
    from ..operators.signatures import compute_signatures
    from ..operators.verify import verify_pairs

    cfg = cfg or DedupConfig()
    csig = cache.persist(corpus_sig if corpus_sig is not None
                         else compute_signatures(assemble(corpus_tr), cfg))
    dsig = cache.persist(delta_sig if delta_sig is not None
                         else compute_signatures(assemble(delta_tr), cfg))
    if corpus_labels is None:
        ccand, _ = candidate_pairs(csig, cfg, persist_sizes=False)
        corpus_labels = connected_components(
            csig.select("conv_id", "id_hash"), verify_pairs(csig, ccand, cfg), cfg
        )
    labels = cache.persist(corpus_labels)
    if pairs is None:
        pairs = incremental_transcript_pairs(
            corpus_tr, delta_tr, cfg, corpus_sig=csig, delta_sig=dsig
        )
    edges = cache.persist(
        pairs.select("conv_id_a", "conv_id_b", "ih_a", "ih_b").distinct()
    )
    ep = (
        edges.select(F.col("conv_id_a").alias("conv_id"))
        .unionByName(edges.select(F.col("conv_id_b").alias("conv_id")))
        .unionByName(dsig.select("conv_id"))
        .distinct()
    )
    touched = (
        labels.join(F.broadcast(ep), "conv_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = labels.join(F.broadcast(touched), "cluster_id", "left_semi")
    # id_hash for touched members: evidence-bounded join against the
    # signature table (AQE broadcasts the member side while it is small)
    mem = members.join(csig.select("conv_id", "id_hash"), "conv_id")
    rep_ih = mem.where(F.col("conv_id") == F.col("cluster_id")).select(
        "cluster_id", F.col("id_hash").alias("rih")
    )
    star = (
        mem.join(rep_ih, "cluster_id")
        .where(F.col("conv_id") != F.col("cluster_id"))
        .select(F.col("rih").alias("ih_a"), F.col("id_hash").alias("ih_b"))
    )
    # evidence endpoints enter the node set straight from the edge rows
    # (same invariant as the streaming labels store — connectivity must
    # never depend on the label table being complete)
    ep_nodes = (
        edges.select(F.col("conv_id_a").alias("conv_id"),
                     F.col("ih_a").alias("id_hash"))
        .unionByName(edges.select(F.col("conv_id_b").alias("conv_id"),
                                  F.col("ih_b").alias("id_hash")))
    )
    nodes = (
        mem.select("conv_id", "id_hash")
        .unionByName(dsig.select("conv_id", "id_hash"))
        .unionByName(ep_nodes)
        .distinct()
    )
    cc = connected_components(
        nodes, edges.select("ih_a", "ih_b").unionByName(star), cfg
    )
    # replay safety: delta conversations always exit through the CC side
    # (same rule as the doc twin)
    untouched = labels.join(F.broadcast(touched), "cluster_id", "left_anti").join(
        F.broadcast(dsig.select("conv_id")), "conv_id", "left_anti"
    )
    return untouched.select("conv_id", "cluster_id").unionByName(cc)


def incremental_admission(
    corpus: DataFrame,
    delta: DataFrame,
    cfg: DedupConfig | None = None,
    threshold: float = 0.3,
    corpus_md5: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-delta-doc admission decision against the corpus:
    (doc_id, keep, dup_kind, dup_of) — keep=1 admits the doc; dup_kind in
    ('exact', 'near', 'none'); dup_of is the duplicate partner (-1 when
    kept). Null-free output so the driver's value hash is unambiguous.
    ``corpus_md5``: persisted (content_md5, c_rep) exact index from the
    corpus's own run (corpus_md5_index) — pass it at scale so the exact
    channel probes a stage table instead of re-hashing corpus text.
    ``corpus_sig``/``corpus_bands``: same as incremental_lsh_pairs — with
    all three stage tables supplied, ``corpus`` itself is never scanned.

    Rule (single-pass, deterministic — first-occurrence-wins inside the
    delta, reference first-writer-wins at the index
    /root/reference/rabin/global/index.c:485-558):
      - exact: a corpus doc with the same md5 exists (partner = min corpus
        doc_id for that hash), or an EARLIER delta doc (smaller doc_id)
        has the same md5 — whichever partner id is smaller;
      - near: an LSH-verified pair (jaccard >= threshold) links the doc to
        a corpus doc (corpus keeps priority regardless of id order) or to
        a smaller-id delta doc; partner = min such neighbor;
      - exact outranks near when both exist. Admission is by partner
        EXISTENCE, not transitive kept-ness: a delta doc dropped as a dup
        of another DROPPED delta doc stays dropped (its content is covered
        by that partner's own dup chain), matching the reference's
        index-hit semantics rather than a clustering pass."""
    cfg = cfg or DedupConfig(shingle_k=3, substring_enabled=False,
                             jaccard_threshold=threshold)
    d_ids = delta.select("doc_id")
    dmd5 = delta.select("doc_id", F.md5("text").alias("content_md5"))
    # probe the (possibly persisted — corpus_md5) exact index with a
    # BROADCAST of the delta's hash set: the index scan stays map-side and
    # the surviving hit set is delta-bounded, so the left join below never
    # shuffles corpus-sized state
    crep_full = corpus_md5 if corpus_md5 is not None else corpus_md5_index(corpus)
    crep = crep_full.join(
        F.broadcast(dmd5.select("content_md5").distinct()), "content_md5"
    )
    dmin = dmd5.groupBy("content_md5").agg(F.min("doc_id").alias("d_min"))
    exact = (
        dmd5.join(F.broadcast(crep), "content_md5", "left")
        .join(dmin, "content_md5")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN c_rep IS NOT NULL AND (d_min >= doc_id OR c_rep < d_min)"
                " THEN c_rep WHEN d_min < doc_id THEN d_min END"
            ).alias("exact_of"),
        )
    )
    # ``pairs``: precomputed evidence, same contract as incremental_clusters
    if pairs is None:
        pairs = incremental_lsh_pairs(
            corpus, delta, cfg, threshold, corpus_sig, corpus_bands
        )
    # partner rows: (delta doc, neighbor) — corpus neighbors always count,
    # delta neighbors only when they have the smaller id
    da = d_ids.withColumnRenamed("doc_id", "doc_id_a").withColumn("a_delta", F.lit(1))
    db = d_ids.withColumnRenamed("doc_id", "doc_id_b").withColumn("b_delta", F.lit(1))
    tagged = (
        pairs.join(F.broadcast(da), "doc_id_a", "left")
        .join(F.broadcast(db), "doc_id_b", "left")
        .select(
            "doc_id_a", "doc_id_b",
            F.coalesce("a_delta", F.lit(0)).alias("a_delta"),
            F.coalesce("b_delta", F.lit(0)).alias("b_delta"),
        )
    )
    partners = (
        # pair (a < b), b in delta: partner(b) = a (earlier delta doc or corpus)
        tagged.where(F.col("b_delta") == 1)
        .select(F.col("doc_id_b").alias("doc_id"), F.col("doc_id_a").alias("partner"))
        .unionByName(
            # a in delta, b in corpus: corpus priority ignores id order
            tagged.where((F.col("a_delta") == 1) & (F.col("b_delta") == 0))
            .select(F.col("doc_id_a").alias("doc_id"),
                    F.col("doc_id_b").alias("partner"))
        )
    )
    near = partners.groupBy("doc_id").agg(F.min("partner").alias("near_of"))
    return (
        d_ids.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull() | F.col("near_of").isNotNull(),
                   F.lit(0)).otherwise(F.lit(1)).cast("int").alias("keep"),
            F.when(F.col("exact_of").isNotNull(), F.lit("exact"))
            .when(F.col("near_of").isNotNull(), F.lit("near"))
            .otherwise(F.lit("none")).alias("dup_kind"),
            F.coalesce("exact_of", "near_of", F.lit(-1)).cast("long").alias("dup_of"),
        )
    )
