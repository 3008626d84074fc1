"""Build a mutated 10x replication slice of a scale-factor directory,
the input of the scale sweep (``scripts/scale_sweep.py``).

Replicates the source's fact tables 10x with shifted ENTITY keys — more
orders / users / documents at the same per-entity row counts, which is
how the real corpus grows (window partition sizes stay constant; only
cardinality scales). Dimension tables are symlinks to the source
parquet.

Every NON-base replica is perturbed so replicas are NOT near-dups of
their source or of each other: every 4th document token (phase i%4)
gets a replica-specific suffix, so any cross-replica doc pair shares
<= ~25% of its trigram shingles (Jaccard <= ~0.15, containment <= ~0.25
— below every operator threshold), while ~75% of tokens stay original,
so SHARED-VOCABULARY shingle frequencies keep growing ~linearly with the
corpus the way a real crawl's do (the growth that makes naive
shared-shingle joins quadratic). WITHIN a replica the base corpus's
near-dup pairs survive verbatim (aligned positions get identical
suffixes), so the TRUE pair output grows ~linearly in the replication
factor — pair-emitting ops can be swept for WORK growth. Embeddings get
a per-replica sign flip per dimension (see ``SCALED``).

Output is not committed; regenerate on demand. Each chained level takes
its own salt (see ``main``):
    python scripts/make_sf1.py /root/testdata/sf0.1 /tmp/sf1m q
    python scripts/make_sf1.py /tmp/sf1m /tmp/sf10m r
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COPIES = 10
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
    # corpora grow clusters, not just cluster counts). Every non-base
    # replica's vectors get a per-replica deterministic SIGN FLIP per
    # dimension (the embeddings branch of main): a sign flip is an exact
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


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("src", help="source scale-factor directory")
    ap.add_argument("out", help="output directory")
    # Distinct salt per CHAINED invocation (q, r, ...): composing two
    # mutation levels with the same salt is commutative — copy (j=1 then
    # i=2) equals copy (j=2 then i=1) — which mints cross-level EXACT
    # duplicates (~40% of a 100x slice, measured). A per-level salt
    # breaks the commutation, keeping chained slices linear-output too.
    ap.add_argument("salt", help="per-level mutation salt")
    args = ap.parse_args(argv)
    src, out, salt = args.src, args.out, args.salt

    import pyspark.sql.functions as F

    from collimate_spark.session import get_session

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
            if t == "documents" and i > 0:
                toks = F.split(F.col("text"), " ")
                salted = F.transform(
                    toks,
                    lambda tok, j: F.when(
                        j % 4 == F.lit(i % 4), F.concat(tok, F.lit(f"{salt}{i}"))
                    ).otherwise(tok),
                )
                p = p.withColumn("text", F.array_join(salted, " "))
            if t == "embeddings" and i > 0:
                # Deterministic per-(replica, dimension) sign flip — an
                # exact isometry within the replica (see SCALED comment).
                # The salt rides the hash so chained levels compose into
                # distinct patterns (no cross-level collisions minting
                # exact duplicates, same reason as the salt argument).
                seed = f"{salt}{i}:"
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
