"""A Python data source that runs no pinot code: one partition per entry of
its ``rows`` option, each yielding that many rows of one LONG column. Timing
a query over it with a round's partition and row counts gives Spark's own
per-query and per-task floor for that round."""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class StubPartition(InputPartition):
    def __init__(self, rows: int) -> None:
        self.rows = rows


class StubReader(DataSourceReader):
    def __init__(self, rows: list[int]) -> None:
        self._rows = rows

    def partitions(self):
        return [StubPartition(n) for n in self._rows] or [StubPartition(0)]

    def read(self, partition):
        import pyarrow as pa

        if partition.rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(range(partition.rows), pa.int64())], names=["x"]
            )


class StubDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pinotbench_stub"

    def schema(self) -> str:
        return "x long"

    def reader(self, schema) -> StubReader:
        rows = [int(n) for n in self.options.get("rows", "").split(",") if n]
        return StubReader(rows)
