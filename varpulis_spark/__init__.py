"""varpulis_spark — a PySpark-native analytics/CEP engine.

A from-scratch re-imagining of the varpulis CEP engine (reference:
/root/reference, Rust) on Apache Spark. The VPL pipeline model (streams of
typed events flowing through where/select/window/aggregate/join/pattern
operators — see reference crates/varpulis-core/src/ast.rs) is expressed here
as a fluent Python builder that compiles to DataFrame/Catalyst plans in batch
mode and Structured Streaming in streaming mode. Nothing is interpreted
per-event on the driver: every operator lowers to declarative Spark plans,
with Pandas-UDF stateful processing only for the SASE+ pattern layer that
Catalyst cannot express.
"""

from varpulis_spark.engine import (
    get_spark,
    install_stamped_zip_importers,
    load_table,
    load_tables,
)
from varpulis_spark.stream import Stream, merge
from varpulis_spark.schema import EventSchema, SchemaRegistry

__version__ = "0.1.0"

# Every Python worker that unpickles a varpulis UDF imports this package,
# so from its next task on Spark's per-task importlib.invalidate_caches()
# stops re-reading unchanged zip archives (see engine.StampedZipImporter).
install_stamped_zip_importers()

__all__ = [
    "Stream",
    "merge",
    "EventSchema",
    "SchemaRegistry",
    "get_spark",
    "load_table",
    "load_tables",
]
