from datafusion_pinot_spark.sources.pinot_datasource import (
    PinotDataSource,
    explain_scan,
    register_pinot_source,
)

__all__ = ["PinotDataSource", "explain_scan", "register_pinot_source"]
