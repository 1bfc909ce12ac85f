"""fogspark — a from-scratch PySpark-native link-graph analytics engine.

Re-imagines the computational semantics of FOG (an out-of-core,
single-machine, vertex-centric scatter-gather C++ engine; see SURVEY.md)
as idiomatic distributed Spark DataFrame programs:

- FOG's CSR files            -> an ``edges(src, dst, weight)`` DataFrame
- FOG's per-CPU update bufs  -> the shuffle (groupBy(dst).agg)
- FOG's bitmap frontiers     -> frontier DataFrames (broadcast when small)
- FOG's segment scheduler    -> explicit hash partitioning + AQE
- FOG's work stealing        -> AQE skew-join splitting + map-side partial aggregation
- FOG's .attr write-back     -> per-superstep checkpoints with lineage

Nothing in this package is a translation of the reference's C++; all
physical strategy is Spark-first (Catalyst, AQE, Arrow-vectorized
pandas UDFs only where SQL cannot express the kernel).
"""

__version__ = "0.1.0"

from fog_spark.session import get_spark  # noqa: F401
