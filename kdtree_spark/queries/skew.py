"""Hot-cell (salted) work fan-out shared by the query operators.

The build salts cells past HOT_CELL_CAP rows into multiple blobs
(index.py), which keeps *build* tasks bounded; these helpers keep
*query* tasks bounded too: instead of cogrouping a hot cell's whole
workload on `cell` (one task no matter how many blobs), its query rows
are replicated once per salt and cogrouped on (cell, salt) against just
the hot blobs — one task per blob. Cold cells (the overwhelming
majority) keep the plain `cell` cogroup, preserving the cached index's
exchange reuse. This is the distributed analogue of the reference's
per-subtree parallelism inside one tree (it never serializes a subtree
on one thread either, kdTreeParallel.h build/query par_do recursion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..index import SpatialIndex

# fan a cell's query work out per (cell, salt) only once it has at
# least this many blobs: a 2-3-blob "warm" cell is handled fine by one
# cell-keyed task looping its blobs (with cross-blob bound tightening),
# while fanning it out costs query replication, a second blob pass and
# an extra merge shuffle — pure overhead unless the cell dominates the
# workload. Genuinely hot cells (varden-style clusters, many blobs)
# still fan out to one task per blob.
FANOUT_MIN_BLOBS = 4


def hot_blobs(index: SpatialIndex) -> DataFrame:
    """Blobs of fanned-out ("hot") cells — the minority side that query
    operators re-key by (cell, salt). Hot-cell ids come from the stats
    table and are broadcast (hot cells are rare by construction)."""
    hot_cells = (index.cell_stats()
                 .filter(F.col("maxsalt") + 1 >= FANOUT_MIN_BLOBS)
                 .select("cell"))
    return index.df.join(F.broadcast(hot_cells), "cell", "semi")


def split_by_salt(cand: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cold, hot): cold rows keep few-blob cells (cogroup on `cell`
    as usual — the per-cell kernel loops the blobs); hot rows are
    replicated once per salt of their fanned-out cell (cogroup on
    (cell, salt) against hot_blobs). `cand` must carry a `maxsalt`
    column (from the cell-stats join), consumed here."""
    hot_pred = F.col("maxsalt") + 1 >= FANOUT_MIN_BLOBS
    cold = cand.filter(~hot_pred).drop("maxsalt")
    hot = (cand.filter(hot_pred)
           .withColumn("salt", F.explode(
               F.sequence(F.lit(0), F.col("maxsalt"))))
           .drop("maxsalt"))
    return cold, hot


def pruned_blob_sides(index: SpatialIndex, pairs: DataFrame):
    """(cold, hot, cold_blobs, hot_blobs): split the (query, cell)
    `pairs` by salt and semi-join the blob table down to the distinct
    cells of each side BEFORE the cogroup — the update() touched-cells
    pattern (index.py) applied to reads. Only those cells' blobs cross
    the Arrow hop (bytes scale with the queries' cells, not with index
    size), and the broadcast semi-join preserves the cached blob
    table's hash-partitioning on `cell`, keeping the cogroup's exchange
    reuse. `pairs` must carry `maxsalt` (consumed by split_by_salt) and
    must be checkpointed by the caller (its lineage must not reach
    index.df, or the semi-join would trip the self-join analyzer)."""
    cold, hot = split_by_salt(pairs)
    cold_blobs = index.df.join(
        F.broadcast(cold.select("cell").distinct()), "cell", "semi")
    hblobs = hot_blobs(index).join(
        F.broadcast(hot.select("cell").distinct()), "cell", "semi")
    return cold, hot, cold_blobs, hblobs


def scan_blobs(index: SpatialIndex, pairs: DataFrame, cold_kernel,
               hot_kernel, schema: str) -> DataFrame:
    """The one cold/hot blob scan: cold cells cogroup on `cell` (one
    group per cell, all its blobs) through `cold_kernel`; hot cells one
    task per (cell, salt) blob through `hot_kernel`. Both kernels must
    be additive across a cell's blobs (counts sum, reported rows or
    per-cell top-k union), so per-salt partial results compose in the
    caller's final aggregation."""
    cold, hot, cold_blobs, hblobs = pruned_blob_sides(index, pairs)
    return (cold.groupby("cell")
            .cogroup(cold_blobs.groupby("cell"))
            .applyInPandas(cold_kernel, schema)
            .unionByName(
                hot.groupby("cell", "salt")
                .cogroup(hblobs.groupby("cell", "salt"))
                .applyInPandas(hot_kernel, schema)))
