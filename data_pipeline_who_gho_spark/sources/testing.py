"""Fixture fetchers for tests and local runs (SURVEY §7: the oracle/test
path never touches the network). They live in the package, not a test
file: the gated ``queries()`` entries fetch through them, and the paged
DataSource imports its default fetcher by name on the executors."""

from __future__ import annotations

_TOTAL_PER_KEY = 5


def pages_fetcher(key: str, page: int, page_size: int) -> list[dict]:
    """Deterministic source: each key yields 5 records across pages."""
    start = page * page_size
    return [
        {"key": key, "idx": i}
        for i in range(start, min(start + page_size, _TOTAL_PER_KEY))
    ]


def flaky_fetcher():
    """A fresh retry-path fixture: the returned fetcher fails the first
    attempt at every (key, page), then serves ``pages_fetcher``'s page.
    Each call starts with no failure spent, so every fetch retries."""
    failed: set = set()

    def fetch(key: str, page: int, page_size: int) -> list[dict]:
        if (key, page) not in failed:
            failed.add((key, page))
            raise ConnectionError("transient")
        return pages_fetcher(key, page, page_size)

    return fetch


# ---------------------------------------------------------------------------
# Deterministic fake media decoders (multimodal tests). Live here, not in
# test files, because mapInPandas closures must be importable on executors.
# ---------------------------------------------------------------------------

def fake_image_decoder(payload: bytes, media_type: str):
    """Deterministic 'decoded image': sha256-seeded uint8 array whose
    dims derive from the payload length — no media libs needed, stable
    across runs/engines."""
    import hashlib
    import numpy as np

    seed = hashlib.sha256(payload or b"").digest()
    h = 8 + seed[0] % 8  # 8..15
    w = 8 + seed[1] % 8
    rng = np.frombuffer(
        (seed * ((h * w) // len(seed) + 1))[: h * w], dtype=np.uint8
    )
    return rng.reshape(h, w).copy()


def fake_video_decoder(payload: bytes, media_type: str):
    """Deterministic 'decoded video': (T, H, W) uint8 stack, T from the
    payload hash — exercises the 1→N frame fan-out."""
    import hashlib
    import numpy as np

    seed = hashlib.sha256(payload or b"").digest()
    t = 4 + seed[2] % 5  # 4..8 frames
    frame = fake_image_decoder(payload, media_type)
    return np.stack([(frame + i) % 256 for i in range(t)]).astype(np.uint8)


# ---------------------------------------------------------------------------
# Network-free OData transport (sources/odata.py tests + local runs).
# ---------------------------------------------------------------------------

class FakeODataTransport:
    """Serves an in-memory WHO-shaped dataset with real $top/$skip paging.

    ``data`` maps entity set -> list[record]; a ``$filter=SpatialDim eq
    'X'`` clause restricts to records whose SpatialDim == X. Unknown
    entity sets return 404 (the reference's absent-combination case).
    Records every URL served, so tests can assert request construction.
    """

    def __init__(self, data: dict, fail_statuses: dict | None = None,
                 flaky_first: bool = False):
        self.data = data
        self.fail_statuses = fail_statuses or {}
        self.flaky_first = flaky_first
        self.urls: list[str] = []
        self._seen: set = set()

    def __call__(self, url: str) -> tuple[int, dict]:
        from urllib.parse import parse_qs, unquote, urlparse

        self.urls.append(url)
        if self.flaky_first and url not in self._seen:
            self._seen.add(url)
            raise ConnectionError("transient")
        parsed = urlparse(url)
        entity = parsed.path.rsplit("/", 1)[-1]
        if entity in self.fail_statuses:
            return self.fail_statuses[entity], {}
        if entity not in self.data:
            return 404, {}
        q = parse_qs(parsed.query)
        records = self.data[entity]
        filt = unquote(q.get("$filter", [""])[0])
        if filt.startswith("SpatialDim eq "):
            want = filt[len("SpatialDim eq "):].strip("'")
            records = [r for r in records if r.get("SpatialDim") == want]
        top = int(q.get("$top", ["100"])[0])
        skip = int(q.get("$skip", ["0"])[0])
        return 200, {"value": records[skip : skip + top]}
