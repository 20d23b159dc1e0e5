"""sf10 planted-witness gate for the shuffle-heavy dedup/streaming
families (r13 verdict item 5).

At the sf10 tier (500k docs, ~27M corpus tokens — 100× the driver's
bench tier) the DuckDB oracles of the banded-LSH family are
replay-quadratic (brute-force all-pairs Jaccard / recursive-CTE
closures over 10×-replicated buckets), so the value gate stops at sf1.
The SPARK side stays linear, and each query's seeded fixture admits
LINEAR invariant checks that (except where noted) hold REGARDLESS of
organic near-dup structure — this tool runs them:

- ``dedup_minhash_lsh`` — planted recall: for every collapsed
  representative r, the seeded pair (r, r+1M, ' zzz' mutation) whose
  EXACT shingle-Jaccard clears the 0.7 threshold (computed linearly,
  one pair per rep — never all-pairs) must be in the output; plus
  output sanity (jaccard ∈ [0.7, 1], id_a < id_b, no duplicate pairs).
  NOTE this one is EMPIRICAL, not provable: banded LSH misses a pair
  at exact Jaccard j with probability (1−j²)¹⁶ (r=2 rows × 16 bands)
  — ≈2e-5 at j just over 0.7 — so a testdata reseed could in
  principle produce a legitimate sub-1.0 recall here; the measured
  value is the evidence, same convention as the ANN recall audits.
- ``dedup_clusters`` / ``dedup_clusters_star`` — DIFFERENTIAL: the two
  independent CC implementations (min-label propagation vs
  large-star/small-star contraction) must produce IDENTICAL label
  tables; min-label structural invariants (cluster_id <= id, the
  canonical id is a member, i.e. per-cluster min(id) == cluster_id);
  planted-edge consistency: every seeded edge of the (r, r+1M, r+2M)
  clique whose exact Jaccard clears 0.7 must connect its endpoints to
  one label.
- ``streaming_minhash_admission`` — the full 4-micro-batch
  checkpointed stream at sf10: every exact-copy seed (+5_000_002, two
  shards after its original) must be REJECTED (provable: the copy
  shares digest AND all band keys with its strictly-earlier original,
  so whichever collision rejected or admitted the original also
  rejects the copy); per-shard doc totals must equal independently
  computed base counts; admitted ⊆ base.
- ``dedup_incremental`` (r15) — the shared-constructor pipeline
  (``incremental_admission_frames``): cohort arithmetic, the provable
  full rejection of the exact-copy cohort at the digest gate,
  conditioned near-gate recall (one exact Jaccard per mutant, the
  (1−j²)¹⁶ empirical convention), a loose fresh-cohort admission
  floor, containment/id sanity, and census≡frame-count agreement.

(The other three r14-verdict heavy names need no witness:
``cc_chain_census``/``cc_star_census``/``kcore_peel_census`` and
``dedup_method_agreement`` have LINEAR or collapse-bounded oracles
and run the full VALUE gate at sf10 directly — r15, EXPERIMENTS.md.)

Usage: python tools/sf10_witness.py [sf_dir] [check ...]
(default .scratch/sf10, all checks).  Exit 1 on any violated
invariant.  Results belong in EXPERIMENTS.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402


def _exact_jaccard(ta: str, tb: str, k: int = 3):
    from big_data_lab_three_spark.functions.text import shingles, tokens

    sa = F.array_distinct(shingles(tokens(F.col(ta)), k))
    sb = F.array_distinct(shingles(tokens(F.col(tb)), k))
    return (
        F.size(F.array_intersect(sa, sb)).cast("double")
        / F.size(F.array_union(sa, sb))
    )


def check_minhash_lsh(spark, sf_dir: str) -> list[str]:
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.queries.dedup import (
        collapsed_seeded_base,
    )

    errs: list[str] = []
    reg = load_all()
    t0 = time.time()
    pairs = reg["dedup_minhash_lsh"].spark(spark, sf_dir).localCheckpoint()
    n_pairs = pairs.count()
    # sanity over the whole output
    bad = pairs.where(
        (F.col("jaccard") < 0.7)
        | (F.col("jaccard") > 1.0)
        | (F.col("id_a") >= F.col("id_b"))
    ).count()
    dup = n_pairs - pairs.select("id_a", "id_b").distinct().count()
    if bad or dup:
        errs.append(f"dedup_minhash_lsh: {bad} malformed, {dup} dup pairs")
    # planted recall, conditioned on the exact threshold (one pair per
    # rep — LINEAR): base = reps ∪ (rep+1M, text || ' zzz')
    base = collapsed_seeded_base(spark, sf_dir)
    reps = base.where(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id").alias("rid"), F.col("text").alias("ta")
    )
    planted = reps.select(
        "rid",
        "ta",
        F.concat(F.col("ta"), F.lit(" zzz")).alias("tb"),
    ).select("rid", _exact_jaccard("ta", "tb").alias("j"))
    eligible = planted.where(F.col("j") >= 0.7)
    n_eligible = eligible.count()
    hit = eligible.join(
        pairs,
        (pairs["id_a"] == eligible["rid"])
        & (pairs["id_b"] == eligible["rid"] + 1_000_000),
    ).count()
    print(
        f"dedup_minhash_lsh: {n_pairs} pairs, planted eligible "
        f"{n_eligible}, recovered {hit} "
        f"(recall {hit / max(n_eligible, 1):.4f}) "
        f"[{time.time() - t0:.1f}s]",
        flush=True,
    )
    if hit != n_eligible:
        errs.append(
            f"dedup_minhash_lsh: planted recall {hit}/{n_eligible}"
        )
    return errs


def check_clusters(spark, sf_dir: str) -> list[str]:
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.queries.dedup import (
        _clusters_seeded_base,
    )

    errs: list[str] = []
    reg = load_all()
    t0 = time.time()
    cc = reg["dedup_clusters"].spark(spark, sf_dir).localCheckpoint()
    star = (
        reg["dedup_clusters_star"].spark(spark, sf_dir).localCheckpoint()
    )
    n = cc.count()
    # differential: two independent CC implementations, one answer
    diff = cc.exceptAll(star).count() + star.exceptAll(cc).count()
    if diff:
        errs.append(f"dedup_clusters vs _star: {diff} differing rows")
    # min-label structure
    bad_min = cc.where(F.col("cluster_id") > F.col("id")).count()
    bad_canon = (
        cc.groupBy("cluster_id")
        .agg(F.min("id").alias("m"))
        .where(F.col("m") != F.col("cluster_id"))
        .count()
    )
    if bad_min or bad_canon:
        errs.append(
            f"dedup_clusters: {bad_min} labels > id, "
            f"{bad_canon} clusters whose canonical id is not a member"
        )
    # planted-edge consistency: seeded clique edges that clear the
    # exact threshold must be intra-cluster (labels equal)
    base = _clusters_seeded_base(spark, sf_dir)
    reps = base.where(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id").alias("rid"), F.col("text").alias("ta")
    )
    edges = None
    # all three clique edges — for short docs the (m1, m2) edge can be
    # the only one clearing the threshold, so it must be checked too
    for offa, sufa, offb, sufb in (
        (0, "", 1_000_000, " zzz"),
        (0, "", 2_000_000, " zzz yyy"),
        (1_000_000, " zzz", 2_000_000, " zzz yyy"),
    ):
        e = reps.select(
            (F.col("rid") + offa).alias("ia"),
            (F.col("rid") + offb).alias("ib"),
            F.concat(F.col("ta"), F.lit(sufa)).alias("ta"),
            F.concat(F.col("ta"), F.lit(sufb)).alias("tb"),
        )
        edges = e if edges is None else edges.unionByName(e)
    eligible = (
        edges.select("ia", "ib", _exact_jaccard("ta", "tb").alias("j"))
        .where(F.col("j") >= 0.7)
        .select("ia", "ib")
    )
    n_edges = eligible.count()
    la = cc.select(
        F.col("id").alias("ia"), F.col("cluster_id").alias("ca")
    )
    lb = cc.select(
        F.col("id").alias("ib"), F.col("cluster_id").alias("cb")
    )
    joined = eligible.join(la, "ia", "left").join(lb, "ib", "left")
    broken = joined.where(
        F.col("ca").isNull()
        | F.col("cb").isNull()
        | (F.col("ca") != F.col("cb"))
    ).count()
    print(
        f"dedup_clusters(+star): {n} labeled rows, differential "
        f"{diff} diff, {n_edges} eligible planted edges, {broken} split "
        f"[{time.time() - t0:.1f}s]",
        flush=True,
    )
    if broken:
        errs.append(
            f"dedup_clusters: {broken} eligible planted edges split "
            "across clusters"
        )
    return errs


def check_streaming_admission(spark, sf_dir: str) -> list[str]:
    from big_data_lab_three_spark.queries.curation import (
        admission_base,
        admission_scope,
        admitted_table,
        run_admission_stream,
    )

    errs: list[str] = []
    t0 = time.time()
    base = admission_base(spark, sf_dir)
    with admission_scope(base, "sf10_admission_") as root:
        run_admission_stream(spark, base.schema, root)
        adm = admitted_table(spark, root).select(
            F.col("id").alias("aid")
        ).localCheckpoint()
        n_base = base.count()
        n_adm = adm.count()
        # every exact-copy seed must be rejected
        copies_admitted = adm.where(
            (F.col("aid") >= 5_000_002) & (F.col("aid") < 6_000_002)
        ).count()
        if copies_admitted:
            errs.append(
                f"streaming_minhash_admission: {copies_admitted} "
                "exact-copy seeds admitted"
            )
        # admitted ⊆ base, no duplicate admissions
        orphans = adm.join(
            base.select(F.col("id").alias("aid")), "aid", "left_anti"
        ).count()
        dups = n_adm - adm.distinct().count()
        if orphans or dups:
            errs.append(
                f"streaming_minhash_admission: {orphans} admitted ids "
                f"not in base, {dups} duplicate admissions"
            )
        # per-shard totals match the arithmetic of the seeded base
        n_docs = base.where(F.col("id") < 5_000_002).count()
        n_copy = base.where(
            (F.col("id") >= 5_000_002) & (F.col("id") < 6_000_002)
        ).count()
        n_near = base.where(F.col("id") >= 6_000_002).count()
        if n_base != n_docs + n_copy + n_near:
            errs.append("streaming_minhash_admission: base arm mismatch")
        print(
            f"streaming_minhash_admission: base {n_base} "
            f"(docs {n_docs} + copies {n_copy} + neardups {n_near}), "
            f"admitted {n_adm}, copy-seeds admitted {copies_admitted} "
            f"[{time.time() - t0:.1f}s]",
            flush=True,
        )
    return errs


def check_streaming_admission_ttl(spark, sf_dir: str) -> list[str]:
    """TTL-windowed admission at sf10 (the ADVICE r13 follow-up: with
    the congruence guard this tier no longer aborts).  Provable
    invariant: the +7_000_002 exact-copy cohort (one shard after its
    original) is FULLY rejected — the original's digest/band keys are
    registered in the probe's TTL=1 window by whichever same-content
    doc won shard 0, and a rejected shard-1 holder never re-registers.
    Empirical (reported, loose floors): the +8_000_002 exact-copy
    cohort lands TWO shards later — its original's entries are
    EXPIRED, so re-admission is the TTL design point; the mutate
    cohorts exercise band-key expiry the same way."""
    import os

    from big_data_lab_three_spark.queries.corpus import (
        _COHORT_SPEC,
        admission_ttl_base,
    )
    from big_data_lab_three_spark.queries.curation import (
        admission_scope,
        batch_complete,
        index_admit_batch,
        run_foreachbatch_stream,
    )
    from big_data_lab_three_spark.sources import table

    errs: list[str] = []
    t0 = time.time()
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    # the EXACT stream the registered query runs — shared constructor,
    # never a re-implementation that could drift (r14 review)
    base = admission_ttl_base(spark, sf_dir)
    with admission_scope(base, "sf10_admission_ttl_") as root:
        ttl = 1

        def admit(batch_df, batch_id: int) -> None:
            if batch_complete(os.path.join(root, "idx_bands"), batch_id):
                return
            batch_df = batch_df.repartition(16).localCheckpoint()
            index_admit_batch(spark, batch_df, root, batch_id, ttl=ttl)

        run_foreachbatch_stream(spark, base.schema, root, admit)
        adm = (
            spark.read.parquet(os.path.join(root, "admitted"))
            .select(F.col("id").alias("aid"))
            .localCheckpoint()
        )
        # Cohort membership by EXACT arithmetic reconstruction from the
        # spec (id = doc_id + offset over doc_id % 8 == mod8), never by
        # id-range windows: a range exactly 500_000 wide silently
        # miscounts on any tier whose doc-id domain reaches 500_000
        # (r14 review) — the join is domain-proof at every tier.
        # Each cohort's invariant ROLE derives from the spec tuple
        # itself, never from hardcoded offset literals (ADVICE r14): an
        # original with doc_id % 8 == mod8 lands in shard mod8 % 4, the
        # cohort is staged into the spec's absolute shard, so the
        # shard delta vs TTL decides in-window vs expired and the
        # mutate flag decides exact-copy vs near-dup.  If the spec's
        # offsets/shards/roles change, the checks follow automatically
        # (and an empty role bucket fails with a clear message below).
        rates: dict[str, list[tuple[int, int, int]]] = {
            "in_window_exact": [],
            "expired_exact": [],
            "in_window_near": [],
            "expired_near": [],
        }
        for mod8, offset, shard, mut in _COHORT_SPEC:
            members = d.where(F.col("doc_id") % 8 == mod8).select(
                (F.col("doc_id") + offset).alias("aid")
            )
            n_c = members.count()
            n_a = members.join(adm, "aid").count()
            delta = (shard - (mod8 % 4)) % 4
            role = (
                ("in_window" if delta <= ttl else "expired")
                + ("_near" if mut else "_exact")
            )
            rates[role].append((offset, n_a, n_c))
        for role in ("in_window_exact", "expired_exact"):
            if not rates[role]:
                errs.append(
                    f"ttl: _COHORT_SPEC has no {role} cohort — the "
                    "witness's core invariant has nothing to check"
                )
        # provable: in-window exact copies fully rejected
        for offset, n_a, n_c in rates["in_window_exact"]:
            if n_a != 0:
                errs.append(
                    f"ttl: {n_a} in-window exact copies (cohort "
                    f"+{offset}) admitted"
                )
        # empirical design points, loose floors
        for offset, n_a, n_c in rates["expired_exact"]:
            if n_a == 0:
                errs.append(
                    f"ttl: expired exact-copy cohort +{offset} fully "
                    "rejected — TTL eviction is not happening"
                )
        for offset, n_a, n_c in rates["in_window_near"]:
            if n_c and n_a / n_c > 0.5:
                errs.append(
                    f"ttl: in-window near-dup cohort +{offset} mostly "
                    f"admitted ({n_a}/{n_c})"
                )

        def _fmt(role: str) -> str:
            return ", ".join(
                f"+{o}: {a}/{n}" for o, a, n in rates[role]
            ) or "(none)"

        print(
            "streaming_admission_ttl: "
            f"in-window copies admitted {_fmt('in_window_exact')} "
            f"(provably 0), expired copies re-admitted "
            f"{_fmt('expired_exact')}, in-window near-dups admitted "
            f"{_fmt('in_window_near')}, expired near-dups re-admitted "
            f"{_fmt('expired_near')} "
            f"[{time.time() - t0:.1f}s]",
            flush=True,
        )
    return errs


def check_dedup_incremental(spark, sf_dir: str) -> list[str]:
    """sf10 witness for ``dedup_incremental`` — the single most
    expensive dedup name (r14 verdict item 5).  Drives the EXACT
    registered pipeline via the shared
    ``incremental_admission_frames`` constructor and checks LINEAR
    invariants:

    - cohort arithmetic: n_batch equals the three %4-residue cohort
      counts summed (exactly recomputed from ``documents``);
    - PROVABLE: the exact-copy cohort (%4==0 — identical text, so its
      digest is in the corpus digest set by construction) is FULLY
      removed by the exact gate;
    - conditioned near-gate recall (EMPIRICAL, the (1−j²)¹⁶ band-miss
      convention): every mutated-cohort doc whose exact Jaccard
      against its own origin clears 0.7 must be rejected — one J per
      mutant, never all-pairs;
    - fresh-cohort admission floor (EMPIRICAL, loose): the
      'fresh doc N standalone content' cohort shares no corpus
      shingles by construction, so ≥ 90% must be admitted;
    - admitted ⊆ surv1 ⊆ batch, no duplicate ids, and the registered
      census numbers equal the frame counts."""
    from big_data_lab_three_spark.queries import load_all
    from big_data_lab_three_spark.queries.dedup import (
        incremental_admission_frames,
    )

    errs: list[str] = []
    t0 = time.time()
    _corpus, batch, surv1, admitted = incremental_admission_frames(
        spark, sf_dir
    )
    adm = admitted.localCheckpoint()
    n_batch, n_surv1, n_adm = batch.count(), surv1.count(), adm.count()

    from big_data_lab_three_spark.sources import table

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    cohort_counts = [
        d.where(F.col("doc_id") % 4 == r).count() for r in (0, 1, 2)
    ]
    if n_batch != sum(cohort_counts):
        errs.append(
            f"incremental: n_batch {n_batch} != cohort sum "
            f"{sum(cohort_counts)}"
        )
    orig = (F.col("doc_id") - 5_000_000) % 4
    # provable: exact copies never survive the exact gate
    n_copy_surv = surv1.where(orig == 0).count()
    if n_copy_surv:
        errs.append(
            f"incremental: {n_copy_surv} exact-copy batch docs "
            "survived the exact digest gate (provably 0)"
        )
    # conditioned near-gate recall: eligible mutants all rejected
    mut = d.where(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.col("text").alias("ta"),
        F.concat(F.col("text"), F.lit(" zz qq")).alias("tb"),
    )
    eligible = mut.select(
        "doc_id", _exact_jaccard("ta", "tb").alias("j")
    ).where(F.col("j") >= 0.7)
    n_eligible = eligible.count()
    n_eligible_admitted = eligible.join(adm, "doc_id").count()
    if n_eligible_admitted:
        errs.append(
            f"incremental: {n_eligible_admitted}/{n_eligible} "
            "J>=0.7 mutants admitted past the near gate"
        )
    # fresh cohort: loose admission floor
    n_fresh = cohort_counts[2]
    n_fresh_adm = adm.where(orig == 2).count()
    if n_fresh and n_fresh_adm / n_fresh < 0.9:
        errs.append(
            f"incremental: only {n_fresh_adm}/{n_fresh} fresh docs "
            "admitted (floor 0.9)"
        )
    # containment + id sanity
    orphans = adm.join(
        surv1.select("doc_id"), "doc_id", "left_anti"
    ).count()
    dups = n_adm - adm.select("doc_id").distinct().count()
    if orphans or dups:
        errs.append(
            f"incremental: {orphans} admitted ids not in surv1, "
            f"{dups} duplicate ids"
        )
    # the registered census equals the frame counts
    row = (
        load_all()["dedup_incremental"].spark(spark, sf_dir).first()
    )
    if (row["n_batch"], row["n_after_exact"], row["n_admitted"]) != (
        n_batch,
        n_surv1,
        n_adm,
    ):
        errs.append(
            f"incremental: census {tuple(row)} != frame counts "
            f"({n_batch}, {n_surv1}, {n_adm})"
        )
    print(
        f"dedup_incremental: batch {n_batch} (cohorts {cohort_counts}), "
        f"after exact {n_surv1}, admitted {n_adm}; exact copies "
        f"surviving 0 (provable), eligible mutants admitted "
        f"{n_eligible_admitted}/{n_eligible}, fresh admitted "
        f"{n_fresh_adm}/{n_fresh} [{time.time() - t0:.1f}s]",
        flush=True,
    )
    return errs


_CHECKS = (
    "minhash_lsh",
    "clusters",
    "streaming_admission",
    "streaming_admission_ttl",
    "dedup_incremental",
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf10"
    only = set(sys.argv[2:])
    bad = only - set(_CHECKS)
    if bad:
        print(f"unknown checks: {sorted(bad)}; have {_CHECKS}")
        return 2
    from big_data_lab_three_spark.session import get_spark

    spark = get_spark("sf10_witness")
    errs: list[str] = []
    for name in _CHECKS:
        if only and name not in only:
            continue
        errs += globals()[f"check_{name}"](spark, sf_dir)
    if errs:
        for e in errs:
            print(f"FAIL {e}", flush=True)
        return 1
    print("sf10 witness gate: all invariants hold", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
