"""HTTP change detection via conditional GET (work avoidance).

Capability twin of /root/reference/lib/lastmod.py: per-URL
``ETag``/``Last-Modified`` values live in the KV store under
``etag:<url>`` / ``last_modified:<url>`` keys; a HEAD-less conditional
GET with ``If-None-Match``/``If-Modified-Since`` answering 304 means
"unchanged", and an unchanged *dataset* (every URL 304) lets the
engine skip the entire Spark job (reference: load_dataset.py:352-357).

The transport is chosen by URL scheme (``default_transport``: an
HTTP(S) conditional GET, or one S3 ``head_object`` for ``s3://``
sources) and is injectable, so tests exercise 200/304/error flows
without a network (the reference uses requests_mock the same way,
tests/test_lastmod.py:43-68).
"""

from __future__ import annotations

from collections.abc import Callable, MutableMapping
from dataclasses import dataclass

try:  # pragma: no cover - requests is optional in this container
    import requests
except ImportError:  # pragma: no cover
    requests = None  # type: ignore[assignment]


@dataclass
class UrlStatus:
    """Result of probing one URL."""

    url: str
    changed: bool
    etag: str | None = None
    last_modified: str | None = None


@dataclass
class FetchResult:
    """What a transport returns for one conditional GET."""

    status_code: int
    etag: str | None = None
    last_modified: str | None = None


Transport = Callable[[str, dict[str, str]], FetchResult]


def requests_transport(url: str, headers: dict[str, str]) -> FetchResult:
    """HTTP(S) transport: a real conditional GET (stream, no body
    read). The context manager closes the response so the socket goes
    back to the pool — headers are available before any body bytes,
    and probing hundreds of registry URLs must not leak a connection
    each."""
    if requests is None:
        raise RuntimeError("requests not available; inject a transport")
    with requests.get(url, headers=headers, stream=True, timeout=30) as resp:
        return FetchResult(
            status_code=resp.status_code,
            etag=resp.headers.get("ETag"),
            last_modified=resp.headers.get("Last-Modified"),
        )


def s3_transport(
    url: str, headers: dict[str, str], s3_client=None
) -> FetchResult:
    """Change probe for an ``s3://`` URL: one ``head_object`` on the
    client s3:// fetches use (injected, else
    sources/readers.default_s3_client). 304 when the stored
    ``If-None-Match`` equals the object's ETag, else 200 with the
    object's ETag and LastModified (an HTTP date)."""
    from datetime import timezone
    from email.utils import format_datetime
    from urllib.parse import urlparse

    from nycdb_k8s_loader_spark.sources.readers import default_s3_client

    parsed = urlparse(url)
    head = (s3_client or default_s3_client()).head_object(
        Bucket=parsed.netloc, Key=parsed.path.lstrip("/")
    )
    if headers.get("If-None-Match") == head["ETag"]:
        return FetchResult(304)
    return FetchResult(
        200,
        etag=head["ETag"],
        last_modified=format_datetime(
            head["LastModified"].astimezone(timezone.utc), usegmt=True
        ),
    )


def default_transport(url: str, headers: dict[str, str]) -> FetchResult:
    """The transport for ``url``'s scheme: ``s3://`` →
    :func:`s3_transport`, anything else → :func:`requests_transport`."""
    if url.startswith("s3://"):
        return s3_transport(url, headers)
    return requests_transport(url, headers)


class LastmodInfo:
    """Read/write the per-URL state keys (reference: lastmod.py:12-22)."""

    @staticmethod
    def keys(url: str) -> tuple[str, str]:
        return f"etag:{url}", f"last_modified:{url}"

    @staticmethod
    def read(kv: MutableMapping, url: str) -> tuple[str | None, str | None]:
        ek, lk = LastmodInfo.keys(url)
        return kv.get(ek), kv.get(lk)

    @staticmethod
    def write(
        kv, url: str, etag: str | None, last_modified: str | None
    ) -> None:
        ek, lk = LastmodInfo.keys(url)
        kv.set_or_delete(ek, etag)
        kv.set_or_delete(lk, last_modified)


class UrlModTracker:
    """Probe a set of URLs; remember validators; answer "did any change?".

    Reference behavior (lib/lastmod.py:49-66): build conditional
    headers from stored state, 304 ⇒ unchanged; anything else ⇒
    changed (conservative: errors count as changed so a flaky source
    never silently stalls refreshes). ``update_lastmods`` persists the
    new validators only after a successful load, exactly like the
    reference updates state *after* the publish commits.
    """

    def __init__(
        self,
        urls: list[str],
        kv,
        transport: Transport = default_transport,
    ) -> None:
        self.urls = urls
        self.kv = kv
        self.transport = transport
        self._pending: dict[str, FetchResult] = {}

    def _conditional_headers(self, url: str) -> dict[str, str]:
        etag, last_modified = LastmodInfo.read(self.kv, url)
        headers: dict[str, str] = {}
        if etag:
            headers["If-None-Match"] = etag
        if last_modified:
            headers["If-Modified-Since"] = last_modified
        return headers

    def check(self) -> list[UrlStatus]:
        statuses = []
        for url in self.urls:
            result = self.transport(url, self._conditional_headers(url))
            changed = result.status_code != 304
            if changed:
                self._pending[url] = result
            statuses.append(
                UrlStatus(
                    url=url,
                    changed=changed,
                    etag=result.etag,
                    last_modified=result.last_modified,
                )
            )
        return statuses

    def did_any_urls_change(self) -> bool:
        return any(s.changed for s in self.check())

    def update_lastmods(self) -> None:
        """Persist validators for changed URLs (call after publish).
        Batched when the store supports it — one file rewrite for the
        whole URL set instead of two per URL."""
        from contextlib import nullcontext

        ctx = self.kv.batch() if hasattr(self.kv, "batch") else nullcontext()
        with ctx:
            for url, result in self._pending.items():
                LastmodInfo.write(self.kv, url, result.etag, result.last_modified)
        self._pending.clear()
