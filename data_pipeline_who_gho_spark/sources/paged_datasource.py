"""Python DataSource V2 for the paged source: ``spark.read.format("paged")``.

The idiomatic-Spark form of the reference's OData extract loop
(`etl/extract.py:52-87`): SURVEY §4 notes "a DSv2 `SupportsPushDownFilters`
reader is the idiomatic (optional) form" of the reference's source-side
`$filter` pushdown (`etl/extract.py:137-141`) — PySpark 4's Python
DataSource API makes that form available without JVM code, so the engine
ships it alongside the driver-side fetch of sources/paged.py, which the
pipeline and the benchmark use.

Semantics carried over from the reference:
- one input partition per fetch key (the per-(indicator,country) unit,
  `etl/extract.py:129-151`) — executors fetch keys in parallel;
- per-key page loop stops on a short page (`etl/extract.py:64-79`);
  ``max_pages_per_key`` (default 1000) is a runaway-pager guard — a key
  still returning full pages at the bound raises instead of silently
  truncating (batch) or spinning (stream);
- `EqualTo`/`In` filters on the key column prune the fetch plan at the
  source (S5 pushdown) — Spark re-applies nothing we accept, and
  re-applies everything we report back as unsupported. Pass
  ``.option("pushdown", "false")`` to get a plain reader that works
  without `spark.sql.python.filterPushdown.enabled`.

The fetcher is named by a ``module:function`` option and imported on the
executor (plain strings are the only values a DataSource option can
carry); the default is the deterministic fixture fetcher. At scale the
page loop is I/O-bound per key — parallelism comes from key count, and
retry sits inside the fetcher exactly as in sources/paged.py.
"""

from __future__ import annotations

import importlib
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

DEFAULT_FETCHER = "data_pipeline_who_gho_spark.sources.testing:pages_fetcher"
DEFAULT_SCHEMA = "key string, idx int"


def _resolve_fetcher(spec: str):
    mod, _, attr = spec.partition(":")
    if not attr:
        raise ValueError(f"fetcher option must be 'module:function', got {spec!r}")
    return getattr(importlib.import_module(mod), attr)


def _runaway(key: str, max_pages: int) -> RuntimeError:
    return RuntimeError(
        f"paged source: key {key!r} still returned full pages after "
        f"max_pages_per_key={max_pages}; raise the bound or fix the pager"
    )


class KeyPartition(InputPartition):
    def __init__(self, key: str):
        self.key = key


class PagedReader(DataSourceReader):
    """Batch reader without filter pushdown (safe when
    `spark.sql.python.filterPushdown.enabled` is off)."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.keys = [k for k in options.get("keys", "").split(",") if k]
        if not self.keys:
            raise ValueError("option 'keys' (comma-separated) is required")
        self.page_size = int(options.get("page_size", "100"))
        self.max_pages = int(options.get("max_pages_per_key", "1000"))
        self.fetcher_spec = options.get("fetcher", DEFAULT_FETCHER)
        self.key_col = options.get("key_col", "key")

    def partitions(self) -> Sequence[KeyPartition]:
        return [KeyPartition(k) for k in self.keys]

    def read(self, partition: KeyPartition) -> Iterator[tuple]:
        fetch = _resolve_fetcher(self.fetcher_spec)
        names = [f.name for f in self.schema.fields]
        for page in range(self.max_pages):
            records = fetch(partition.key, page, self.page_size)
            for rec in records:
                yield tuple(rec.get(n) for n in names)
            if len(records) < self.page_size:
                return
        raise _runaway(partition.key, self.max_pages)


class PagedPushdownReader(PagedReader):
    """Batch reader with key-filter pushdown (requires
    `spark.sql.python.filterPushdown.enabled=true` — Spark refuses to
    plan a pushFilters reader without it)."""

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        """Accept key-column equality/membership filters by pruning the
        fetch-key list; everything else is Spark's to evaluate."""
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == (self.key_col,):
                self.keys = [k for k in self.keys if k == f.value]
            elif isinstance(f, In) and f.attribute == (self.key_col,):
                wanted = set(f.value)
                self.keys = [k for k in self.keys if k in wanted]
            else:
                unsupported.append(f)
        return unsupported


class PagedStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the paged source: the reference's
    checkpoint-resume loop (`etl/extract.py:80-87` persists the next
    page link after every page) expressed as Structured Streaming
    offsets — the offset dict IS the next-page-per-key checkpoint, and
    the engine's checkpointLocation replaces the hand-rolled state
    table. Each read drains every key to its short page (a retired key
    checkpoints as page = -1). The deterministic fetcher makes
    readBetweenOffsets exact on failure replay."""

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.keys = [k for k in options.get("keys", "").split(",") if k]
        if not self.keys:
            raise ValueError("option 'keys' (comma-separated) is required")
        self.page_size = int(options.get("page_size", "100"))
        self.max_pages = int(options.get("max_pages_per_key", "1000"))
        self.fetcher_spec = options.get("fetcher", DEFAULT_FETCHER)

    def initialOffset(self) -> dict:
        return {"pages": {k: 0 for k in self.keys}}

    def _fetch_page(self, key: str, page: int) -> tuple[list[tuple], bool]:
        fetch = _resolve_fetcher(self.fetcher_spec)
        names = [f.name for f in self.schema.fields]
        records = fetch(key, page, self.page_size)
        rows = [tuple(rec.get(n) for n in names) for rec in records]
        return rows, len(records) < self.page_size

    def read(self, start: dict):
        # contract: return ALL data available after `start` (availableNow
        # triggers exactly one read) — drain every key to its short page
        pages = dict(start["pages"])
        out: list[tuple] = []
        for key, page in pages.items():
            while 0 <= page:
                if page >= self.max_pages:
                    raise _runaway(key, self.max_pages)
                rows, short = self._fetch_page(key, page)
                out.extend(rows)
                page = -1 if short else page + 1
            pages[key] = -1
        return iter(out), {"pages": pages}

    def readBetweenOffsets(self, start: dict, end: dict):
        out: list[tuple] = []
        for key, first in start["pages"].items():
            last = end["pages"][key]
            if first < 0:
                continue
            page = first
            # replay exactly the pages this batch covered: up to (but not
            # including) the end offset, or through the short page if the
            # key retired (-1) inside the batch
            while last < 0 or page < last:
                if page >= self.max_pages:
                    raise _runaway(key, self.max_pages)
                rows, short = self._fetch_page(key, page)
                out.extend(rows)
                if short:
                    break
                page += 1
        return iter(out)


def register_paged_source(spark, enable_pushdown: bool = True) -> None:
    """Register the format. ``enable_pushdown=True`` (default) also turns
    on ``spark.sql.python.filterPushdown.enabled`` SESSION-WIDE — Spark
    refuses to plan a pushFilters reader without it, and the setting
    affects every Python data source in the session. Callers who must
    leave that conf alone should pass ``enable_pushdown=False`` and/or
    use ``.option("pushdown", "false")`` per read."""
    if enable_pushdown:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PagedDataSource)


class PagedDataSource(DataSource):
    """``spark.dataSource.register(PagedDataSource)`` then
    ``spark.read.format("paged").option("keys", "a,b").load()``."""

    @classmethod
    def name(cls) -> str:
        return "paged"

    def schema(self) -> str:
        return self.options.get("schema", DEFAULT_SCHEMA)

    def reader(self, schema: StructType) -> PagedReader:
        opts = dict(self.options)
        if opts.get("pushdown", "true").lower() == "false":
            return PagedReader(schema, opts)
        return PagedPushdownReader(schema, opts)

    def simpleStreamReader(self, schema: StructType) -> PagedStreamReader:
        return PagedStreamReader(schema, dict(self.options))
