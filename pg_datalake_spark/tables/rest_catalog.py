"""Iceberg REST catalog client (the reference's Polaris integration).

The reference reads and writes external Iceberg REST catalogs
(reference: pg_lake_iceberg/src/rest_catalog/rest_catalog.c:45-80 —
GUC-configured host/auth; tests test_polaris_catalog.py:29). This is
the same surface as a pure-Python client of the PUBLIC Apache Iceberg
REST Catalog OpenAPI spec, stdlib-only (urllib), so it needs no jars:

- ``/v1/config``, ``/v1/oauth/tokens`` (client_credentials),
- namespace/table listing, ``load_table`` (→ metadata location the
  normal distributed read path consumes),
- ``register_table`` (pointer registration),
- spec-shaped commits: a ``CommitTableRequest`` carrying
  ``assert-table-uuid`` / ``assert-ref-snapshot-id`` REQUIREMENTS and
  ``add-snapshot`` / ``set-snapshot-ref`` UPDATES — the server
  enforces the CAS and answers 409 on a lost race, surfaced as
  :class:`~pg_datalake_spark.tables.commit.CommitConflictError`, the
  type every local commit path raises when it loses its version slot.

Only the catalog CONTROL PLANE is HTTP; table data stays on the
normal scan path (`read_iceberg_table` on the returned metadata
location — distributed parquet with pushdown/pruning). Vended
storage credentials (S3 session tokens in ``config``) are accepted
and exposed but not applied to local file:// reads; on a cluster they
feed the Hadoop FS configuration. Verified offline against an
in-process spec-subset server (tests/test_rest_catalog.py); against a
real Polaris only the base URI and credential change.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request

from pg_datalake_spark.tables.iceberg_external import CommitConflictError

# 5xx/429 retry taxonomy (the first behaviors a real Polaris exhibits
# under load). GETs are idempotent — retry the transient set freely.
# Mutating POSTs retry ONLY statuses that guarantee the request was
# not processed (429 throttle, 503 unavailable); a 500/502/504 mid-
# commit is ambiguous and must surface — the CAS requirements make a
# caller-level replay safe (a duplicate apply answers 409).
_RETRIABLE_GET = {429, 500, 502, 503, 504}
_RETRIABLE_POST = {429, 503}
_MAX_ATTEMPTS = 3


class RestCatalogError(RuntimeError):
    def __init__(self, status: int, body: str):
        super().__init__(f"REST catalog error {status}: {body[:300]}")
        self.status = status
        self.body = body


class RestCatalogClient:
    """Minimal Iceberg REST catalog client (read + register + commit).

    Transport behaviors (tests/test_rest_catalog.py drives each against
    the in-process spec-subset server):

    - OAuth client_credentials with ``expires_in`` tracking: an expired
      or server-rejected (401) token is refreshed once mid-request and
      the request replayed — long sessions survive token rotation.
    - Paginated listings: ``pageToken``/``next-page-token`` loops until
      the server stops returning a token.
    - Transient-error retry with exponential backoff, honoring
      ``Retry-After``; see the taxonomy above.
    """

    def __init__(
        self,
        uri: str,
        credential: str | None = None,
        token: str | None = None,
        warehouse: str | None = None,
        retry_sleep_s: float = 0.2,
    ):
        self.uri = uri.rstrip("/")
        self.token = token
        self.warehouse = warehouse
        self.prefix = ""
        self._credential = credential
        self._token_expiry: float | None = None  # epoch seconds
        self._retry_sleep_s = retry_sleep_s
        if credential and not token:
            self._refresh_token()
        cfg = self._get("/v1/config", params={"warehouse": warehouse} if warehouse else None)
        overrides = cfg.get("overrides", {})
        prefix = overrides.get("prefix", "")
        self.prefix = f"/{prefix}" if prefix else ""

    # -- transport ----------------------------------------------------------

    def _refresh_token(self) -> None:
        client_id, _, client_secret = self._credential.partition(":")
        form = urllib.parse.urlencode(
            {
                "grant_type": "client_credentials",
                "client_id": client_id,
                "client_secret": client_secret,
                "scope": "catalog",
            }
        ).encode()
        req = urllib.request.Request(
            f"{self.uri}/v1/oauth/tokens",
            data=form,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            payload = json.loads(resp.read())
        self.token = payload["access_token"]
        expires_in = payload.get("expires_in")
        # refresh 30s early so a token never expires mid-flight
        self._token_expiry = (
            time.time() + float(expires_in) - 30.0 if expires_in else None
        )

    def _ensure_token(self) -> None:
        if (
            self._credential
            and self._token_expiry is not None
            and time.time() >= self._token_expiry
        ):
            self._refresh_token()

    def _request(self, method: str, path: str, body: dict | None = None,
                 params: dict | None = None) -> dict:
        url = f"{self.uri}{path}"
        if params:
            url += "?" + urllib.parse.urlencode(
                {k: v for k, v in params.items() if v is not None}
            )
        retriable = _RETRIABLE_GET if method == "GET" else _RETRIABLE_POST
        auth_retried = False
        attempt = 0
        while True:
            self._ensure_token()
            headers = {"Content-Type": "application/json"}
            if self.token:
                headers["Authorization"] = f"Bearer {self.token}"
            req = urllib.request.Request(
                url,
                data=json.dumps(body).encode() if body is not None else None,
                headers=headers,
                method=method,
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    data = resp.read()
                    return json.loads(data) if data else {}
            except urllib.error.HTTPError as e:
                body_text = e.read().decode(errors="replace")
                if e.code == 401 and self._credential and not auth_retried:
                    # server-side token rotation/expiry: refresh once,
                    # replay; a second 401 is a real credential problem
                    auth_retried = True
                    self._refresh_token()
                    continue
                if e.code == 409:
                    raise CommitConflictError(
                        f"REST catalog commit conflict: {body_text[:300]}"
                    )
                attempt += 1
                if e.code in retriable and attempt < _MAX_ATTEMPTS:
                    retry_after = e.headers.get("Retry-After")
                    delay = (
                        float(retry_after)
                        if retry_after
                        else self._retry_sleep_s * (2 ** (attempt - 1))
                    )
                    time.sleep(delay)
                    continue
                raise RestCatalogError(e.code, body_text) from e

    def _get(self, path: str, params: dict | None = None) -> dict:
        return self._request("GET", path, params=params)

    def _get_paginated(self, path: str, items_key: str) -> list:
        """Loop the spec's pageToken/next-page-token protocol until the
        server stops returning a continuation token."""
        out: list = []
        page_token: str | None = None
        while True:
            page = self._get(
                path, params={"pageToken": page_token} if page_token else None
            )
            out.extend(page.get(items_key, []))
            page_token = page.get("next-page-token")
            if not page_token:
                return out

    def _post(self, path: str, body: dict) -> dict:
        return self._request("POST", path, body=body)

    # -- read surface -------------------------------------------------------

    def list_namespaces(self) -> list[list[str]]:
        return self._get_paginated(f"/v1{self.prefix}/namespaces", "namespaces")

    def list_tables(self, namespace: str) -> list[str]:
        ns = urllib.parse.quote(namespace, safe="")
        idents = self._get_paginated(
            f"/v1{self.prefix}/namespaces/{ns}/tables", "identifiers"
        )
        return [ident["name"] for ident in idents]

    def load_table(self, namespace: str, name: str) -> dict:
        """LoadTableResult: {"metadata-location", "metadata", "config"?}."""
        ns = urllib.parse.quote(namespace, safe="")
        tbl = urllib.parse.quote(name, safe="")
        return self._get(f"/v1{self.prefix}/namespaces/{ns}/tables/{tbl}")

    def read_table(self, spark, namespace: str, name: str, **kwargs):
        """Load through the catalog, scan through the normal
        distributed path (pushdown/pruning unchanged)."""
        from pg_datalake_spark.tables.iceberg_external import read_iceberg_table

        result = self.load_table(namespace, name)
        meta = result.get("metadata") or {}
        location = meta.get("location")
        if not location:
            # fall back: metadata-location is <table>/metadata/vN.metadata.json
            mloc = result["metadata-location"]
            location = mloc.rsplit("/metadata/", 1)[0]
        return read_iceberg_table(spark, location, **kwargs)

    # -- write surface ------------------------------------------------------

    def register_table(self, namespace: str, name: str, metadata_location: str) -> dict:
        ns = urllib.parse.quote(namespace, safe="")
        return self._post(
            f"/v1{self.prefix}/namespaces/{ns}/register",
            {"name": name, "metadata-location": metadata_location},
        )

    def commit_snapshot(
        self,
        namespace: str,
        name: str,
        new_metadata_location: str,
        table_uuid: str,
        expected_snapshot_id: int | None,
        new_snapshot: dict,
    ) -> dict:
        """Spec-shaped CommitTableRequest: assert the table UUID and
        that ``main`` still points at ``expected_snapshot_id`` (None =
        assert the ref does not exist yet), then add the new snapshot
        and advance ``main``. A concurrent writer that moved the ref
        first makes the server answer 409 → CommitConflictError, the
        optimistic-concurrency contract every other commit path in
        this repo shares."""
        ns = urllib.parse.quote(namespace, safe="")
        requirements = [{"type": "assert-table-uuid", "uuid": table_uuid}]
        requirements.append(
            {
                "type": "assert-ref-snapshot-id",
                "ref": "main",
                "snapshot-id": expected_snapshot_id,
            }
        )
        updates = [
            {"action": "add-snapshot", "snapshot": new_snapshot},
            {
                "action": "set-snapshot-ref",
                "ref-name": "main",
                "type": "branch",
                "snapshot-id": new_snapshot["snapshot-id"],
            },
            # our offline server applies the new metadata pointer from
            # this update; a full REST service writes metadata itself
            {"action": "set-location", "location": new_metadata_location},
        ]
        return self._post(
            f"/v1{self.prefix}/namespaces/{ns}/tables/{urllib.parse.quote(name, safe='')}",
            {
                "identifier": {"namespace": [namespace], "name": name},
                "requirements": requirements,
                "updates": updates,
            },
        )
