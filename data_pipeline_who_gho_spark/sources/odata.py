"""Concrete OData / WHO GHO client: the HTTP-facing ``PageFetcher``.

The reference builds real OData requests — ``$top``/``$skip`` pagination,
``$filter=SpatialDim eq '...'``, ``$orderby=TimeDim asc``, 404 → empty
page, request-error skip (opt-in here), retry/backoff (``etl/extract.py:24-153``).
This module is that client as a callable matching ``paged.PageFetcher``,
so ``fetch_paged`` runs it from the driver's thread pool over the key
DataFrame (one HTTP stream per key, ``num_partitions`` keys at once,
where the reference loops over keys one at a time).

The WHO GHO OData API is public (https://ghoapi.azureedge.net/api); each
indicator code is an entity set whose rows are observations. A fetch key
is ``"INDICATOR"`` or ``"INDICATOR|COUNTRY"`` — the country leg becomes
the ``$filter`` clause, mirroring ``fetch_observations``'s
indicator × country fan-out (etl/extract.py:119-153), which the caller
expresses as a crossJoin fetch plan (S6).

Transport is injected (``transport(url) -> (status_code, parsed_json)``)
so tests run network-free; the default uses stdlib ``urllib`` (no extra
deps). Retry/backoff lives in ``paged.fetch_all_pages`` — this fetcher
raises on retryable failures and returns ``[]`` on terminal-empty
conditions (404), exactly the split the reference encodes with
tenacity + the 404 guard.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from urllib.error import HTTPError, URLError
from urllib.parse import quote, urlencode

WHO_GHO_BASE_URL = "https://ghoapi.azureedge.net/api"
ORDERBY = "TimeDim asc"  # the reference's page order (etl/extract.py)
KEY_SEP = "|"  # splits a fetch key into entity set and country

# transport(url) -> (http_status, decoded_json_body)
Transport = Callable[[str], tuple[int, dict]]


def build_odata_url(
    base_url: str,
    entity_set: str,
    top: int,
    skip: int,
    filter_expr: str | None = None,
    orderby: str | None = None,
) -> str:
    """Compose one page URL. Params are percent-encoded with ``quote``
    (spaces → %20, the encoding OData servers expect — parity with the
    reference's ``urlencode(..., quote_via=quote)``)."""
    params: list[tuple[str, str]] = []
    if filter_expr:
        params.append(("$filter", filter_expr))
    if orderby:
        params.append(("$orderby", orderby))
    params.append(("$top", str(top)))
    params.append(("$skip", str(skip)))
    query = urlencode(params, quote_via=quote)
    return f"{base_url.rstrip('/')}/{entity_set}?{query}"


def spatial_filter(country_code: str) -> str:
    """``SpatialDim eq 'USA'`` — the reference's per-country predicate.
    Single quotes in the literal are doubled per OData string rules."""
    return "SpatialDim eq '{}'".format(country_code.replace("'", "''"))


class UrllibTransport:
    """Default stdlib transport. Returns (status, parsed-JSON). Raises
    ``URLError`` on connection-level failures (the retryable class)."""

    def __init__(self, timeout: float = 30.0):
        self.timeout = timeout

    def __call__(self, url: str) -> tuple[int, dict]:
        import urllib.request

        req = urllib.request.Request(url, headers={"Accept": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, json.loads(resp.read().decode("utf-8"))
        except HTTPError as e:  # non-2xx: report the status, never raise here
            return e.code, {}


class ODataPageFetcher:
    """``PageFetcher`` over an OData endpoint.

    ``fetch_all_pages`` drives it: page N maps to ``$skip = N * $top``;
    a short or empty page ends the stream (the reference's
    ``len(records) < top`` stop, etl/extract.py:76-78).

    Error policy (etl/extract.py:38-50 parity):
    - 404 → empty page (absent indicator/country combination);
    - other HTTP errors → raise (``fetch_all_pages`` retries with
      backoff, then propagates);
    - connection errors → raise, so ``fetch_all_pages`` retries the page
      and a key is never cut short silently. ``skip_request_errors=True``
      opts into the reference's behaviour (empty page, which ends the
      key's pagination).
    """

    def __init__(
        self,
        base_url: str = WHO_GHO_BASE_URL,
        transport: Transport | None = None,
        skip_request_errors: bool = False,
    ):
        self.base_url = base_url
        self.transport = transport or UrllibTransport()
        self.skip_request_errors = skip_request_errors

    def url_for(self, key: str, page: int, page_size: int) -> str:
        entity_set, _, country = key.partition(KEY_SEP)
        return build_odata_url(
            self.base_url,
            entity_set,
            top=page_size,
            skip=page * page_size,
            filter_expr=spatial_filter(country) if country else None,
            orderby=ORDERBY,
        )

    def __call__(self, key: str, page: int, page_size: int) -> list[dict]:
        url = self.url_for(key, page, page_size)
        try:
            status, body = self.transport(url)
        except (URLError, ConnectionError, TimeoutError):
            if self.skip_request_errors:
                return []
            raise
        if status == 404:
            return []
        if status >= 400:
            raise RuntimeError(f"OData GET {url} failed with HTTP {status}")
        records = body.get("value", [])
        if not isinstance(records, list):
            raise RuntimeError(f"OData GET {url}: malformed body (no 'value' list)")
        return records
