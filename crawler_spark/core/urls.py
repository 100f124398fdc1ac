"""URL canonicalization — the pure-Python reference semantics.

Reproduces the reference crawler's ``normalizeUrl``
(/root/reference/lib/crawler/crawler-engine.ts:487-503):

  1. parse the URL; on parse failure return the input unchanged
     (the reference wraps ``new URL(url)`` in try/catch),
  2. drop the ``#fragment``,
  3. stable-sort query parameters by key (``searchParams.sort()`` is a
     stable sort on the parameter NAME, preserving the relative order
     of duplicate keys),
  4. strip one trailing ``/`` from the path unless the path is ``/``.

Plus the JS ``URL`` normalizations the reference inherits implicitly:
scheme+host lowercased, empty path → ``/``, default port dropped.

The Spark-native equivalent (pure column expressions, no Python in the
hot path) lives in ``crawler_spark.functions.urls.canonicalize_url``;
``tests/test_core_kernel.py`` asserts both agree on every URL form in
the fixtures.
"""

from __future__ import annotations

from urllib.parse import urlsplit

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str) -> str:
    """Canonical form of *url*; returns *url* unchanged if unparsable."""
    try:
        p = urlsplit(url.strip())
        if not p.scheme or not p.netloc:
            # JS `new URL` throws on scheme-relative / relative input.
            return url
        scheme = p.scheme.lower()
        host = p.hostname.lower() if p.hostname else ""
        if not host:
            return url
        port = p.port
        netloc = host
        if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
            netloc = f"{host}:{port}"
        path = p.path or "/"
        if path.endswith("/") and path != "/":
            path = path[:-1]
        query = ""
        if p.query:
            raw = p.query.split("&")
            # stable sort by parameter name only (searchParams.sort()).
            order = sorted(range(len(raw)),
                           key=lambda i: (raw[i].split("=", 1)[0], i))
            query = "&".join(raw[i] for i in order)
        out = f"{scheme}://{netloc}{path}"
        if query:
            out += f"?{query}"
        return out
    except (ValueError, AttributeError):
        return url


def url_host(url: str) -> str:
    """Lowercased hostname, '' if unparsable."""
    try:
        h = urlsplit(url).hostname
        return h.lower() if h else ""
    except ValueError:
        return ""


def url_path(url: str) -> str:
    """Path component ('/' if empty), '' if unparsable."""
    try:
        p = urlsplit(url)
        if not p.scheme or not p.netloc:
            return ""
        return p.path or "/"
    except ValueError:
        return ""

