"""S1-S7: the paged record source.

Reference shape (``etl/extract.py``): a driver-side loop — per
(indicator, country) key pair, GET pages of 100 with retry/backoff,
checkpoint the next-page link after each page, resume from checkpoint.

Re-expression:

- The fetch *plan* is data: a DataFrame of fetch keys (the reference's
  ``indicator × country`` nested loop becomes ``crossJoin`` — S6).
- The driver fetches it, as the reference does: the key column is
  collected, a thread pool pulls all pages of each key (S1/S3) with
  tenacity-style retry/backoff (S2), and the records become one
  ``createDataFrame`` (SURVEY S1's Spark form). The extract is held on
  the driver; threads suit the I/O-bound page loop.
- Predicate pushdown (S5) is the fetch-plan construction itself: each
  key row carries its filter; the "source" only ever produces matching
  records (same mechanism as the reference's ``$filter=`` URL).
- Checkpoint/resume (S4): per key-batch, not per page — a batch's
  records reach the sink as one DataFrame, so the batch is the unit that
  lands; the observable guarantee (no loss, no dupes after the
  idempotent MERGE) matches the reference's. Completed batches are
  recorded in the etl_state repository and skipped on resume.
- Row limit (S7): ``df.limit(n)`` on the result.

The fetcher is injected (a callable), so tests and local runs read
fixtures with zero network — the oracle path never touches HTTP.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .state import EtlStateRepository

# fetch_page(key: str, page_index: int, page_size: int) -> list[dict]
# Empty list ⇒ no more pages (reference: page < $top stops, 404 ⇒ empty).
PageFetcher = Callable[[str, int, int], list[dict]]


def fetch_all_pages(
    fetcher: PageFetcher,
    key: str,
    page_size: int,
    max_retries: int = 3,
    backoff_s: float = 0.1,
) -> Iterator[dict]:
    """S1+S2+S3 for one key: paginate until a short/empty page, retrying
    each page with exponential backoff (tenacity parity,
    etl/extract.py:30)."""
    page = 0
    while True:
        attempt = 0
        while True:
            try:
                records = fetcher(key, page, page_size)
                break
            except Exception:
                attempt += 1
                if attempt >= max_retries:
                    raise
                time.sleep(backoff_s * (2 ** (attempt - 1)))
        yield from records
        if len(records) < page_size:
            return
        page += 1


def fetch_paged(
    spark: SparkSession,
    keys: DataFrame,
    fetcher: PageFetcher,
    schema: str,
    page_size: int = 100,
    limit: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Paged extraction on the driver: ``num_partitions`` threads
    (default: the cluster's defaultParallelism, capped at the key count)
    fetch whole keys at once, and the records come back in key order as
    one frame of ``schema``.

    ``keys`` is the fetch plan, one fetch key per row in its ``key``
    column (build it with crossJoin for S6 fan-out).
    The call is eager: the HTTP, and an error that a key's retries do not
    absorb, happen here, not at the first action on the result.
    """
    plan = [r[0] for r in keys.select("key").collect()]
    threads = max(1, min(num_partitions or spark.sparkContext.defaultParallelism, len(plan)))
    with ThreadPoolExecutor(threads) as pool:
        per_key = pool.map(lambda k: list(fetch_all_pages(fetcher, k, page_size)), plan)
        records = [rec for recs in per_key for rec in recs]
    struct = StructType.fromDDL(schema)
    out = spark.createDataFrame(pd.DataFrame(records, columns=struct.fieldNames()), struct)
    return out.limit(limit) if limit is not None else out


def fetch_with_checkpoint(
    spark: SparkSession,
    keys: list[str],
    fetcher: PageFetcher,
    schema: str,
    state: EtlStateRepository,
    process_name: str,
    page_size: int = 100,
    batch_size: int = 64,
    sink: Callable[[DataFrame, int], None] | None = None,
) -> int:
    """S4: checkpointed resume at key-batch granularity.

    Keys are processed in deterministic batches; after each batch lands
    (via ``sink``), the batch index is checkpointed. On restart, completed
    batches are skipped. Downstream idempotent MERGE makes re-runs of a
    half-finished batch harmless — the reference's observable guarantee
    (no loss, no dupes) at coarser grain (SURVEY §7 risk register).
    Returns the number of batches processed this run.
    """
    st = state.get_state(process_name)
    done = (st or {}).get("checkpoint_state") or {}
    start_batch = int(done.get("next_batch", 0))
    batches = [keys[i : i + batch_size] for i in range(0, len(keys), batch_size)]

    processed = 0
    for bi in range(start_batch, len(batches)):
        kdf = spark.createDataFrame([(k,) for k in batches[bi]], "key STRING")
        df = fetch_paged(spark, kdf, fetcher, schema, page_size=page_size)
        if sink is not None:
            sink(df, bi)
        else:
            df.count()
        state.set_checkpoint_state(process_name, {"next_batch": bi + 1})
        processed += 1

    state.clear_checkpoint(process_name)
    state.set_last_successful_run_at(process_name)
    return processed
