"""Provider API client — parity with mds/api.py (Client, ≈L30–250) and
mds/auth.py (auth_types/OAuthClientCredentialsAuth, ≈L10–150).

The reference fetches paged JSON from provider HTTP endpoints
(`Client._request` follows ``page["links"]["next"]``), with versioned
Accept headers and OAuth client-credentials or static-token auth.

Spark-native shape: fetching is a DRIVER-SIDE (or driver-coordinated)
concern that lands payload pages somewhere a distributed scan can read
(object storage / staging dir); validation then runs over
``sources.payloads.load_records``. The transport is injectable — this
sandbox has no network, production passes ``requests.Session.get``; tests
pass a fake. Keeping the page loop out of executors is deliberate: paged
HTTP with a serial next-link is inherently sequential, and the reference
treats it the same way.

For genuinely parallel ingestion (many providers x many time windows),
``fetch_many`` fans the independent (provider, window) requests out via
``spark.range(...).mapInPandas`` so each executor pulls its own slice —
the distributed analog of running many reference clients at once. It
calls HTTP rather than checking rows, so it is not on
``session.map_rows``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Iterator

Transport = Callable[[str, dict, dict], dict]
"""(url, params, headers) -> decoded JSON page."""

RECORD_TYPES = ("trips", "status_changes", "events", "vehicles")


class TransportError(Exception):
    """HTTP-level failure surfaced by a transport. ``status`` carries the
    HTTP status; ``retry_after`` the parsed Retry-After seconds, if the
    server sent one (429 rate limits do)."""

    def __init__(self, status: int, msg: str = "", retry_after: float | None = None):
        super().__init__(msg or f"HTTP {status}")
        self.status = int(status)
        self.retry_after = retry_after


RETRYABLE_STATUSES = frozenset({429, 500, 502, 503, 504})


def retrying(
    transport: Transport,
    retries: int = 5,
    base_delay_s: float = 0.5,
    retry_statuses: frozenset = RETRYABLE_STATUSES,
    sleep: Callable[[float], None] | None = None,
) -> Transport:
    """Exponential-backoff retry wrapper around any transport — the
    resilience layer the reference leaves to its callers (mds/api.py
    does plain ``requests`` with no retry; real provider endpoints rate-
    limit). Honors Retry-After on 429s (waits max(backoff, server ask)),
    gives up after ``retries`` attempts on retryable statuses, re-raises
    everything else immediately. ``sleep`` is injectable for tests and
    stays the driver's concern — the page loop is driver-side, so no
    executor ever blocks in a backoff."""
    if sleep is None:
        import time as _time

        sleep = _time.sleep

    def call(url: str, params: dict, headers: dict) -> dict:
        for attempt in range(retries + 1):
            try:
                return transport(url, params, headers)
            except TransportError as e:
                if e.status not in retry_statuses or attempt == retries:
                    raise
                delay = base_delay_s * (2.0 ** attempt)
                if e.retry_after is not None:
                    delay = max(delay, float(e.retry_after))
                sleep(delay)
        raise AssertionError("unreachable")  # pragma: no cover

    return call


def accept_header(record_type: str, version: str) -> dict:
    """Versioned Accept header (mds/api.py ≈L60–120)."""
    return {"Accept": f"application/vnd.mds.provider+json;version={version}"}


def bearer_auth(token: str) -> dict:
    return {"Authorization": f"Bearer {token}"}


def oauth_client_credentials(
    transport: Transport, token_url: str, client_id: str, client_secret: str
) -> dict:
    """OAuth client-credentials flow (mds/auth.py ≈L40–150): one token
    POST, then a bearer header. Transport-injected like everything else."""
    page = transport(
        token_url,
        {"grant_type": "client_credentials", "client_id": client_id,
         "client_secret": client_secret},
        {},
    )
    return bearer_auth(page["access_token"])


@dataclass
class Client:
    """Paged endpoint client (Client._request page loop, mds/api.py)."""

    base_url: str
    transport: Transport
    version: str = "0.4.0"
    headers: dict = field(default_factory=dict)
    max_pages: int = 10_000  # runaway-pagination guard (reference has none)

    def _get_pages(self, record_type: str, params: dict) -> Iterator[dict]:
        url: str | None = f"{self.base_url}/{record_type}"
        headers = {**accept_header(record_type, self.version), **self.headers}
        pages = 0
        while url is not None and pages < self.max_pages:
            page = self.transport(url, params, headers)
            yield page
            url = (page.get("links") or {}).get("next")
            params = {}  # next-links carry their own query
            pages += 1

    def get_records(self, record_type: str, **params) -> list[dict]:
        """All records across pages (Client.get_trips etc., flattened)."""
        if record_type not in RECORD_TYPES:
            raise ValueError(f"unknown record type {record_type!r}")
        out: list[dict] = []
        for page in self._get_pages(record_type, params):
            out.extend((page.get("data") or {}).get(record_type) or [])
        return out

    def get_trips(self, **params) -> list[dict]:
        return self.get_records("trips", **params)

    def get_status_changes(self, **params) -> list[dict]:
        return self.get_records("status_changes", **params)

    def get_events(self, **params) -> list[dict]:
        return self.get_records("events", **params)

    def get_vehicles(self, **params) -> list[dict]:
        return self.get_records("vehicles", **params)

    def dump_to_staging(self, record_type: str, staging_dir: str, **params) -> int:
        """Fetch pages -> one JSON payload file per page in a staging dir
        readable by sources.payloads.load_records. Returns page count."""
        import os

        os.makedirs(staging_dir, exist_ok=True)
        n = 0
        for i, page in enumerate(self._get_pages(record_type, params)):
            with open(os.path.join(staging_dir, f"page_{i:06d}.json"), "w") as f:
                json.dump(page, f)
            n += 1
        return n


def fetch_many(
    spark,
    tasks: list[dict],
    transport_factory: Callable[[], Transport],
    staging_dir: str,
) -> int:
    """Distributed fan-out of INDEPENDENT fetch tasks (one per provider x
    time-window), each an isolated page loop writing its own staging
    files. Returns total pages. ``transport_factory`` is called inside
    each worker (sessions aren't picklable)."""
    import pandas as pd

    from mds_provider_spark.session import local_frame

    tasks_json = [json.dumps(t) for t in tasks]
    tdf = local_frame(spark, [(t,) for t in tasks_json], "task string").repartition(
        max(len(tasks_json), 1)
    )

    def run(batches):
        transport = transport_factory()
        for pdf in batches:
            counts = []
            for tj in pdf["task"]:
                t = json.loads(tj)
                c = Client(t["base_url"], transport, t.get("version", "0.4.0"),
                           t.get("headers", {}))
                counts.append(
                    c.dump_to_staging(
                        t["record_type"],
                        f"{staging_dir}/{t['name']}",
                        **t.get("params", {}),
                    )
                )
            yield pd.DataFrame({"pages": counts})

    return int(
        tdf.mapInPandas(run, "pages long").agg({"pages": "sum"}).collect()[0][0] or 0
    )
