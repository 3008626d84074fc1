"""Generate a local sf1 slice (10× the sf0.1 bench scale) for the
exact-vs-approx scale measurements (VERDICT r6 directive #5).

Replicates sf0.1's fact tables 10× with shifted ENTITY keys — more
orders / users / documents at the same per-entity row counts, which is
how the real corpus grows (window partition sizes stay constant; only
cardinality scales). Row values are otherwise untouched so the value
distributions (and therefore percentile work) are realistic. Dimension
tables are identical views of the sf0.1 parquet.

Output: /tmp/sf1/{table}.parquet — NOT committed, regenerate on demand:
    python scripts/make_sf1.py [src_sf_dir] [out_dir]
Each level is 10 copies of its source; chain for the next decade:
    python scripts/make_sf1.py /tmp/sf1 /tmp/sf10   # 100x bench scale

SF_MUTATE=1 (VERDICT r7 directive #2) perturbs every NON-base replica's
document text so replicas are NOT near-dups of their source or of each
other: every 4th token (phase i%4) gets a replica-specific suffix, so
any cross-replica doc pair shares ≤ ~25% of its trigram shingles
(Jaccard ≤ ~0.15, containment ≤ ~0.25 — below every operator threshold;
chain with a DIFFERENT SF_SALT per level — see SALT below)
while ~75% of tokens stay original, so SHARED-VOCABULARY shingle
frequencies keep growing ~linearly with the corpus the way a real
crawl's do (the growth that makes naive shared-shingle joins
quadratic). WITHIN a replica the base corpus's near-dup pairs survive
verbatim (aligned positions get identical suffixes), so the TRUE pair
output grows ~linearly in the replication factor instead of the exact
replication's quadratic artifact — pair-emitting ops can be swept for
WORK growth:
    SF_MUTATE=1 python scripts/make_sf1.py /root/testdata/sf0.1 /tmp/sf1m
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COPIES = 10
MUTATE = os.environ.get("SF_MUTATE", "") not in ("", "0")
# Distinct salt per CHAINED invocation (SF_SALT=q, r, ...): composing two
# mutation levels with the same salt is commutative — copy (j=1 then i=2)
# equals copy (j=2 then i=1) — which mints cross-level EXACT duplicates
# (~40% of a 100x slice, measured). A per-level salt letter breaks the
# commutation, keeping chained slices linear-output too.
SALT = os.environ.get("SF_SALT", "q")
SCALED = {
    # table -> columns to shift by i * (max+1) per replica
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # r14: embeddings now SCALES (it was passthrough through r13, so the
    # blocked-pair / semdedup decade claims had no slice to run on —
    # VERDICT r13 #1). vec_id shifts like the other facts; ``label`` is
    # deliberately NOT shifted, so cluster SIZE grows with the corpus —
    # the axis the label-blocked pair operators must survive (real
    # corpora grow clusters, not just cluster counts). Under SF_MUTATE
    # every non-base replica's vectors get a per-replica deterministic
    # SIGN FLIP per dimension (see _flip_signs): a sign flip is an exact
    # isometry (products x_k*y_k are unchanged within a replica, so
    # within-replica cosines — and the base corpus's true near-dup pairs
    # — survive bit-identically), while cross-replica cosines become
    # sums of ±x_k*y_k with hash-random signs: expectation 0, |cos| ~
    # 1/sqrt(d) — far below every operator threshold. True pair output
    # therefore grows ~linearly while candidate work per cluster grows
    # quadratically, exactly the shape the blocked kernel targets.
    "embeddings": ["vec_id"],
}
PASSTHROUGH = ["region", "nation", "customer", "supplier", "part"]


def main() -> None:
    import pyspark.sql.functions as F

    from collimate_spark.session import get_session

    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    os.makedirs(out, exist_ok=True)
    spark = get_session("make-sf1")

    for t in PASSTHROUGH:
        dst = os.path.join(out, f"{t}.parquet")
        srcp = os.path.join(src, f"{t}.parquet")
        if os.path.lexists(dst):
            if os.path.islink(dst):
                os.unlink(dst)
            else:
                shutil.rmtree(dst, ignore_errors=True)
        os.symlink(srcp, dst)

    for t, keys in SCALED.items():
        df = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        strides = {
            k: r[0] + 1 for k, r in zip(keys, [df.agg(F.max(k)).first() for k in keys])
        }
        parts = []
        for i in range(COPIES):
            p = df
            for k, stride in strides.items():
                p = p.withColumn(k, (F.col(k) + F.lit(i * stride)).cast(df.schema[k].dataType))
            if MUTATE and t == "documents" and i > 0:
                toks = F.split(F.col("text"), " ")
                salted = F.transform(
                    toks,
                    lambda tok, j: F.when(
                        j % 4 == F.lit(i % 4), F.concat(tok, F.lit(f"{SALT}{i}"))
                    ).otherwise(tok),
                )
                p = p.withColumn("text", F.array_join(salted, " "))
            if MUTATE and t == "embeddings" and i > 0:
                # Deterministic per-(replica, dimension) sign flip — an
                # exact isometry within the replica (see SCALED comment).
                # The salt rides the hash so chained levels compose into
                # distinct patterns (no cross-level collisions minting
                # exact duplicates, same reason as the SALT doc above).
                seed = f"{SALT}{i}:"
                p = p.withColumn(
                    "embedding",
                    F.transform(
                        F.col("embedding"),
                        lambda x, j: F.when(
                            F.pmod(
                                F.xxhash64(F.concat(F.lit(seed), j.cast("string"))),
                                F.lit(2),
                            )
                            == 1,
                            -x,
                        ).otherwise(x),
                    ),
                )
            parts.append(p)
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        dst = os.path.join(out, f"{t}.parquet")
        # File-count control WITHOUT a full shuffle when the union is
        # already wide: coalesce() glues input partitions onto 32 write
        # tasks with zero shuffle scratch, where repartition(32) would
        # first materialize the whole scaled table as shuffle blocks.
        # Narrow unions (the small bench slices, 8 input files) still
        # need the shuffle to SPREAD to 32 files for scan parallelism.
        # coalesce propagates upstream: a wide build runs at <= 32 tasks.
        nparts = un.rdd.getNumPartitions()
        un = un.coalesce(32) if nparts >= 32 else un.repartition(32)
        un.write.mode("overwrite").parquet(dst)
        n = spark.read.parquet(dst).count()
        print(f"{t}: {n} rows -> {dst}")

    spark.stop()


if __name__ == "__main__":
    main()
