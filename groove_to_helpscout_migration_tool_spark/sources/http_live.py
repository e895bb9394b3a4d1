"""Live-socket HTTP transport.

The engine's API plumbing is cassette-first (sources/http_fixture.py):
every test and catalog query replays recorded responses, so correctness
never depends on a network. This module is the ONE live path: a real
migration constructs ``LiveHttpTransport`` and hands it to
``FixtureHttpClient`` -- the analog of the reference's Guzzle client
(APIHelper.php:41-105 builds authenticated paginated GETs;
Publishers/CustomerPublisher.php:38-42 POSTs with bearer auth) --
implementing the exact transport interface the cassette defines:

    get(url)            -> (status_code, body)
    post(url, payload)  -> (status_code, body)

so ``FixtureHttpClient`` (the status-code taxonomy: 429/5xx ->
TransientApiError, other non-200 -> ApiError) and ``with_retries``
(bounded exponential backoff) run UNCHANGED on top of either transport.
The test suite drives this class against a local socket fixture server
(tests/test_http_live.py) -- same probe -> paginated scan -> publish
flow as the cassette tests, over real TCP.

Division of retry labor:
  - The transport honors SERVER-DIRECTED pacing only: a 429 carrying a
    Retry-After header sleeps that long (capped) and retries in place,
    up to ``max_rate_limit_waits`` times. This is the one signal the
    generic retry layer cannot see (it only gets exceptions), and
    ignoring it hammers a throttling server.
  - Everything else -- bare 429s, 5xx, permanent 4xx -- is returned
    verbatim and handled by the existing taxonomy + with_retries, the
    same path the cassette exercises.

Executor-safety: instances hold only plain values (token string,
floats) plus an injectable ``sleep`` callable, so cloudpickling into
mapInPandas / foreachPartition closures is safe; every request builds
its own urllib opener, so no socket state crosses task boundaries.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from typing import Any

Response = tuple[int, str]  # (status_code, body) -- the cassette contract


class LiveHttpTransport:
    """Real-socket implementation of the cassette transport interface."""

    def __init__(
        self,
        token: str | None = None,
        timeout: float = 10.0,
        max_rate_limit_waits: int = 2,
        max_retry_after: float = 30.0,
        sleep=time.sleep,
        refresh_token=None,
    ):
        self.token = token
        self.timeout = timeout
        self.max_rate_limit_waits = max_rate_limit_waits
        # cap on a server's Retry-After: a misconfigured header must not
        # park an executor task for minutes
        self.max_retry_after = max_retry_after
        self.sleep = sleep  # injectable: tests record delays instead of waiting
        # OAuth expiry handling (round 7): a 401 means the bearer token
        # expired mid-run (long migrations outlive access tokens; the
        # reference re-authenticates manually). When a ``refresh_token``
        # callable is provided -- () -> new token string, e.g. an OAuth2
        # refresh-grant POST -- the transport calls it ONCE per request
        # and retries in place with the new token. Without it (or on a
        # second 401) the response returns verbatim to the taxonomy
        # layer, which raises the permanent ApiError. The callable must
        # be cloudpickle-safe (plain function / functools.partial over
        # plain values) to ride into executor closures.
        self.refresh_token = refresh_token

    # -- one wire request ---------------------------------------------------
    def _headers(self, has_body: bool) -> dict[str, str]:
        h = {"Accept": "application/json"}
        if has_body:
            h["Content-Type"] = "application/json"
        if self.token:
            # OAuth2 bearer injection -- the reference passes its API token
            # on every call (APIHelper.php:41-105)
            h["Authorization"] = f"Bearer {self.token}"
        return h

    def _once(self, url: str, data: bytes | None) -> tuple[int, str, Any]:
        req = urllib.request.Request(
            url,
            data=data,
            headers=self._headers(data is not None),
            method="POST" if data is not None else "GET",
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                return resp.status, resp.read().decode("utf-8"), resp.headers
        except urllib.error.HTTPError as e:
            # non-2xx IS a response here: the taxonomy layer decides what
            # is transient vs permanent, exactly as with the cassette
            body = e.read().decode("utf-8", "replace")
            return e.code, body, e.headers

    def _request(self, url: str, data: bytes | None = None) -> Response:
        waits = 0
        refreshed = False
        while True:
            status, body, headers = self._once(url, data)
            if status == 429 and waits < self.max_rate_limit_waits:
                retry_after = headers.get("Retry-After") if headers else None
                if retry_after is not None:
                    try:
                        delay = min(float(retry_after), self.max_retry_after)
                    except ValueError:
                        delay = 1.0  # HTTP-date form: pace minimally
                    self.sleep(max(delay, 0.0))
                    waits += 1
                    continue
            if status == 401 and self.refresh_token is not None and not refreshed:
                # expired bearer: refresh ONCE and replay the request with
                # the new token; a 401 that survives the refresh is a real
                # authorization failure and flows to the taxonomy layer
                self.token = self.refresh_token()
                refreshed = True
                continue
            return (status, body)

    # -- the cassette interface --------------------------------------------
    def get(self, url: str) -> Response:
        return self._request(url)

    def post(self, url: str, payload: Any) -> Response:
        return self._request(url, json.dumps(payload).encode("utf-8"))
