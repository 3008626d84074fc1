"""Bounded within-group self-pairing — the blocked-matrix-multiply
pattern for distributing O(group²) pair generation, shared by every
near-dup operator (MinHash-LSH bands, the streaming near-dup, embedding
cosine and SemDeDup clusters).

A plain self equi-join on the group key puts every pair of a group into
ONE task: a group of s rows costs s² work and s·width memory on a single
executor — the classic scale-killer for skewed blocking keys (a hot LSH
band, an oversized embedding cluster). Chunking fixes it exactly, with no
semantic change: split each group into ⌈s/cap⌉ chunks by id hash, send
each row to its chunk-pair blocks (c, j ≥ c) as the a side and
(i ≤ c, c) as the b side, group on (group, i, j), and each task now
holds ≤ cap×cap candidate pairs regardless of group size. Total work is
unchanged (all pairs are inherent to the contract); what changes is that
it is spread over ⌈s/cap⌉² tasks instead of one. ``bucket_pairs`` emits
the id pairs; ``blocked_pair_cosines`` emits each pair's cosine.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

PAIR_CAP = 1024  # max group members whose pairs one task may generate


def _chunk_ids(df: DataFrame, size: Column, id_col: str, cap: int) -> DataFrame:
    """Add ``__nch`` = ⌈size/cap⌉ (at least 1), the group's chunk count,
    and ``__chunk`` = the row's id-hash chunk in [0, __nch)."""
    return df.withColumn(
        "__nch", F.greatest(F.lit(1), F.ceil(size / F.lit(cap))).cast("int")
    ).withColumn("__chunk", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nch")).cast("int"))


def _chunk_groups(banded: DataFrame, bucket_cols: Sequence[str], cap: int) -> DataFrame:
    """The (bucket, ci, cj) groups ``bucket_pairs`` expands, one row each:
    ``ms`` = the set of (side, doc_id) members — side 0 rows pair among
    themselves on the diagonal (ci == cj), and with the side 1 rows off
    it."""
    wb = Window.partitionBy(*bucket_cols)
    cols = [*bucket_cols, "doc_id"]
    sized = _chunk_ids(
        banded.select(*cols)
        .withColumn("__n", F.count(F.lit(1)).over(wb))
        .filter(F.col("__n") > 1),  # singleton buckets pair with nothing
        F.col("__n"),
        "doc_id",
        cap,
    )
    # tagged chunk-pair replicas: side 0 = 'a' rows of groups (c, j≥c),
    # side 1 = 'b' rows of groups (i<c, c); nch=1 → a single (0,0) emit
    a_part = F.transform(
        F.sequence(F.col("__chunk"), F.col("__nch") - 1),
        lambda j: F.struct(
            F.col("__chunk").alias("ci"), j.cast("int").alias("cj"), F.lit(0).alias("side")
        ),
    )
    b_part = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("__chunk")),
            lambda i: F.struct(
                i.cast("int").alias("ci"), F.col("__chunk").alias("cj"), F.lit(1).alias("side")
            ),
        ),
        lambda s: s.getField("ci") < F.col("__chunk"),
    )
    # fast path for the overwhelmingly common nch=1 row: a literal
    # one-element (0,0,side=0) array instead of the interpreted
    # sequence/transform/filter/concat pipeline (HOFs don't codegen;
    # at sf0.1 every bucket is under cap, so this is every row)
    single = F.array(
        F.struct(
            F.lit(0).alias("ci"), F.lit(0).alias("cj"), F.lit(0).alias("side")
        )
    )
    emit_arr = F.when(F.col("__nch") == 1, single).otherwise(F.concat(a_part, b_part))
    emits = sized.select(*cols, F.explode(emit_arr).alias("t")).select(
        *cols, F.col("t.ci").alias("ci"), F.col("t.cj").alias("cj"), F.col("t.side").alias("side")
    )
    # no array_sort: pair orientation (least/greatest) + the final
    # distinct make the output deterministic regardless of set order
    return emits.groupBy(*bucket_cols, "ci", "cj").agg(
        F.collect_set(F.struct(F.col("side"), F.col("doc_id"))).alias("ms")
    )


def bucket_pairs(banded: DataFrame, *bucket_cols: str, cap: int = PAIR_CAP) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from bucket membership, with
    bounded per-task work, in ONE pipeline (no plan branch re-executes
    the upstream kernel).

    Buckets with ≤ cap members get one (ci=0, cj=0) group — the classic
    collect-members-and-emit-pairs aggregation. A bucket with s > cap
    members (a degenerate hot band: thousands of near-empty docs sharing
    a signature) is split into nch = ⌈s/cap⌉ hash chunks, and each member
    is emitted to its chunk-pair groups — side 'a' of (c, j≥c), side 'b'
    of (i<c, c) — so the same groupBy produces every unordered pair
    exactly once with ≤ ~cap² candidates per group, instead of one
    executor-resident s-member array emitting s² pairs. Exact: no
    candidates are dropped, only the task shape changes.

    Cost shape: one window count over the bucket key + one grouped
    aggregation; replication factor is nch per member — 1 for every
    non-degenerate bucket. Input must be unique per (bucket key, doc_id).

    Callers needing a verification predicate pushed before the final
    distinct should fuse it as a streamed equi-join instead (the
    dedup_simhash shape): when band buckets saturate the candidate
    multiset dwarfs the survivor set (measured: 217M candidates → 24k
    survivors at 500k docs, 134s mostly in the distinct's exchange), and
    a streamed codegen join with the fused predicate measured ~10×
    faster than filtering these interpreted HOF pair structs."""

    def _pair(x, y):
        # orient (doc_a < doc_b)
        xid, yid = x.getField("doc_id"), y.getField("doc_id")
        return F.struct(F.least(xid, yid).alias("doc_a"), F.greatest(xid, yid).alias("doc_b"))

    # hoist the side splits into a Project so each is evaluated ONCE per
    # group — referencing filter(ms, ...) inline inside the nested pair
    # lambdas re-evaluates the O(s) filter per inner element (O(s³) per
    # bucket on the interpreted HOF path; measured 1.4s → 0.6s at sf0.1
    # for dedup_simhash's 365-member hot bucket)
    a_side, b_side = F.col("__aside"), F.col("__bside")
    # diagonal group (ci==cj): within-list pairs of the sorted a-side;
    # off-diagonal: full a×b cross product
    diag = F.flatten(
        F.transform(
            a_side,
            lambda x, i: F.transform(
                F.slice(a_side, i + 2, F.size(a_side)), lambda y: _pair(x, y)
            ),
        )
    )
    cross = F.flatten(F.transform(a_side, lambda x: F.transform(b_side, lambda y: _pair(x, y))))
    return (
        _chunk_groups(banded, bucket_cols, cap)
        .select(
            "ci",
            "cj",
            F.filter(F.col("ms"), lambda s: s.getField("side") == 0).alias("__aside"),
            F.filter(F.col("ms"), lambda s: s.getField("side") == 1).alias("__bside"),
        )
        .select(
            F.explode(F.when(F.col("ci") == F.col("cj"), diag).otherwise(cross)).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def _list_to_mat(arr):
    """Arrow list<floating> column -> 2D float64 ndarray (rows must share
    one length). float32 -> float64 is exact, matching the JVM's
    cast("double")."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = arr.offsets.to_numpy(zero_copy_only=False)
    widths = off[1:] - off[:-1]
    if len(widths) == 0:
        return np.zeros((0, 0))
    d = widths[0]
    if not (widths == d).all():
        raise ValueError("blocked_pair_cosines requires uniform vector dims")
    vals = arr.values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return vals[off[0] : off[-1]].reshape(len(widths), d)


def _gram_kernel(table):
    """One (group, chunk_i, chunk_j) block: expand every valid pair and
    compute cos = dot/(|a|·|b|) with the SAME float64 arithmetic as the
    sequential left folds in functions/vectors.py (dot and squared-norm
    both accumulate dimension-by-dimension in index order, so every
    per-pair double is bit-identical to the zip_with+aggregate form —
    pinned by tests/test_skew.py::test_blocked_pair_cosines_matches_hof).
    """
    import numpy as np
    import pyarrow as pa

    role = table.column("__role").to_numpy(zero_copy_only=False)
    ids = table.column("__pid").to_numpy(zero_copy_only=False)
    mat = _list_to_mat(table.column("__pvec"))
    same = bool(table.column("__gi")[0].as_py() == table.column("__gj")[0].as_py())
    a_sel, b_sel = role == 0, role == 1
    ida, idb = ids[a_sel], ids[b_sel]
    A, B = mat[a_sel], mat[b_sel]
    sa, sb = len(ida), len(idb)
    n_group = table.num_columns - 5  # leading group-key columns
    names = [table.column_names[i] for i in range(n_group)]
    if sa == 0 or sb == 0:
        empty = [pa.array([], type=table.column(i).type) for i in range(n_group)]
        empty += [
            pa.array([], type=table.column("__pid").type),
            pa.array([], type=table.column("__pid").type),
            pa.array([], type=pa.float64()),
        ]
        return pa.table(empty, names=names + ["id_a", "id_b", "cos_raw"])
    d = A.shape[1]
    # squared norms: sequential left fold over dimensions (== V.norm)
    sqa = np.zeros(sa)
    for k in range(d):
        sqa += A[:, k] * A[:, k]
    sqb = np.zeros(sb)
    for k in range(d):
        sqb += B[:, k] * B[:, k]
    na, nb = np.sqrt(sqa), np.sqrt(sqb)
    # pairwise dot: same left fold, one rank-1 update per dimension
    acc = np.zeros((sa, sb))
    for k in range(d):
        acc += A[:, k][:, None] * B[:, k][None, :]
    cos = acc / (na[:, None] * nb[None, :])
    if same:
        keep = ida[:, None] < idb[None, :]
    else:
        keep = np.ones((sa, sb), dtype=bool)
    ii, jj = np.nonzero(keep)
    xa, xb, c = ida[ii], idb[jj], cos[ii, jj]
    swap = xa > xb
    out_a = np.where(swap, xb, xa)
    out_b = np.where(swap, xa, xb)
    cols = [
        pa.array([table.column(i)[0].as_py()] * len(out_a), type=table.column(i).type)
        for i in range(n_group)
    ]
    cols += [pa.array(out_a), pa.array(out_b), pa.array(c, type=pa.float64())]
    return pa.table(cols, names=names + ["id_a", "id_b", "cos_raw"])


def blocked_pair_cosines(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    vec_col: str,
    cap: int = PAIR_CAP,
) -> DataFrame:
    """All unordered within-group pair COSINES (id_a < id_b), over the same
    chunk grid and task bound as ``bucket_pairs`` — but the vectors never
    ride a pair-exploding join. Each vector row is shuffled (replicated
    ⌈s/cap⌉+1 ways, exactly the two join sides' replication) to its
    chunk-pair groups, and one applyInArrow kernel per (group, ci, cj)
    block expands the ≤ cap×cap pairs and computes their cosines
    vectorized — shuffle bytes are O(vectors·chunks), not O(pairs·dim)
    (guide §8: move lightweight rows, expand where the decision is made).
    Group sizes come from a broadcast groupBy count (the groups are
    clusters: few rows).

    Output: group_cols + (id_a, id_b, cos_raw). cos_raw is bit-identical
    to ``V.dot(a,b)/(V.norm(a)*V.norm(b))`` — the kernel replays the same
    dimension-order float64 left folds.
    """
    gcols = list(group_cols)
    sizes = df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__n"))
    base = _chunk_ids(df.join(F.broadcast(sizes), gcols), F.col("__n"), id_col, cap)
    vec = F.col(vec_col).cast("array<double>").alias("__pvec")
    # Each row's block assignments — role 0 in blocks (chunk, j ≥ chunk),
    # role 1 in blocks (i ≤ chunk, chunk) — emit from ONE explode of a
    # per-row struct array instead of a union of two selects: the union
    # arms re-executed the whole scan+size-join subtree once per side
    # (the same-table-union collapse, r13). The exploded multiset is
    # identical, and the gram kernel selects rows by role/id, so block-
    # internal row order is immaterial.
    blocks = F.concat(
        F.transform(
            F.sequence(F.col("__chunk"), F.col("__nch") - 1),
            lambda j: F.struct(
                F.col("__chunk").alias("gi"), j.alias("gj"), F.lit(0).alias("role")
            ),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("__chunk")),
            lambda i: F.struct(
                i.alias("gi"), F.col("__chunk").alias("gj"), F.lit(1).alias("role")
            ),
        ),
    )
    u = base.select(
        *gcols,
        F.explode(blocks).alias("__b"),
        F.col(id_col).alias("__pid"),
        vec,
    ).select(
        *gcols,
        F.col("__b.gi").alias("__gi"),
        F.col("__b.gj").alias("__gj"),
        F.col("__b.role").alias("__role"),
        "__pid",
        "__pvec",
    )
    schema = T.StructType(
        [df.schema[c] for c in gcols]
        + [
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    return u.groupBy(*gcols, "__gi", "__gj").applyInArrow(_gram_kernel, schema)
