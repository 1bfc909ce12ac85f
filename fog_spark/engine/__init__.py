from fog_spark.engine.superstep import (  # noqa: F401
    materialize,
    vertices_of,
)
from fog_spark.engine.checkpoint import RunContext  # noqa: F401
