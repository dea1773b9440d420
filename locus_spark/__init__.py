"""locus_spark — a PySpark-native distributed spatial-join + tiling engine.

Re-implements the query semantics of the reference library ``lycantropos/locus``
(kd-tree nearest / n-nearest point queries, packed-Hilbert-R-tree box
containment queries, segment nearest queries, box range search and ball/radius
search — see ``/root/reference/locus/{kd,r,segmental}.py``) as *distributed
spatial joins* over cell-partitioned DataFrames, rather than as in-memory
linked trees.

Design (Spark-first, NOT a port):

* geometry lives in plain columnar DataFrames
  (``points(id,x,y)``, ``boxes(id,min_x,max_x,min_y,max_y)``,
  ``segments(id,x1,y1,x2,y2)``) — the reference's positional Item index
  (``locus/_core/kd.py:12``) becomes the ``id`` column;
* the reference's Hilbert bulk packing (``locus/_core/r.py:93-161``) becomes
  Hilbert-keyed range partitioning (space-filling-curve clustering);
* tree traversal pruning (``locus/kd.py:368``, ``locus/_core/r.py:164-183``)
  becomes explicit grid-cell candidate pruning + Parquet min/max skipping;
* all distances are squared Euclidean, float64, computed by Spark SQL
  expressions (JVM codegen; the spatial planners hand them over as SQL
  text) — Python only in vectorized Arrow/pandas UDFs.
"""

__version__ = "0.2.0"

from locus_spark.index import BoxIndex, PointIndex, SegmentIndex  # noqa: F401
from locus_spark.session import get_spark  # noqa: F401
