"""In-process Ed-Fi ODS for `sources.rest`, modelled on `FakeOds` in
`tests/test_pipeline_e2e.py`.

It is passed to the program as the `session=` object of `land_all` /
`land_collection` / `newest_change_version`, so no socket is opened: a
GET is a dictionary lookup and a slice. Routes served:

- `POST {token_url}`: the OAuth client-credentials token,
- `GET {root}`: the data-model advertisement (Ed-Fi 3.3 + TPDM),
- `GET .../changeQueries/v1/availableChangeVersions`,
- `GET .../data/v3/{ed-fi|tpdm}/{collection}[/deletes]` with `limit` /
  `offset` paging and optional `minChangeVersion` / `maxChangeVersion`.

Every live document and every tombstone carries the change version at
which it was last written; `apply` bumps the version and records the
churn, exactly the bookkeeping the change-query API exposes.
"""

from __future__ import annotations

import threading

from api_to_amt_data_lake_spark.sources.endpoints import collection_name
from api_to_amt_data_lake_spark.sources.rest import OdsConfig

BASE = "https://ods.bench/data/v3"
TOKEN = "tok-bench"


class _Resp:
    status_code = 200

    def __init__(self, payload):
        self.payload = payload

    def raise_for_status(self) -> None:
        pass

    def json(self):
        return self.payload


class FakeOds:
    """ODS state: {collection: {id: (version, doc)}} plus tombstones."""

    def __init__(self, docs: dict[str, list[dict]]):
        self.version = 1
        self.live = {c: {doc["id"]: (1, doc) for doc in ds}
                     for c, ds in docs.items()}
        self.tombstones: dict[str, list[tuple[int, dict]]] = {}
        self._lock = threading.Lock()
        self.pages = 0

    def config(self, max_workers: int) -> OdsConfig:
        return OdsConfig(base_url=BASE,
                         token_url="https://ods.bench/oauth/token",
                         client_id="bench", client_secret="bench",
                         page_limit=500, max_workers=max_workers)

    def apply(self, upserts: dict[str, list[dict]],
              deletes: dict[str, list[str]]) -> int:
        """Write one batch of changes at the next change version."""
        self.version += 1
        v = self.version
        for coll, docs in upserts.items():
            for doc in docs:
                self.live[coll][doc["id"]] = (v, doc)
        for coll, ids in deletes.items():
            for i in ids:
                del self.live[coll][i]
                self.tombstones.setdefault(coll, []).append(
                    (v, {"id": i, "changeVersion": v}))
        return v

    def documents(self, coll: str) -> dict[str, dict]:
        """The live documents of a collection, by id."""
        return {i: doc for i, (_, doc) in self.live.get(coll, {}).items()}

    # -- the requests-like session surface --------------------------------
    def post(self, url, data=None, auth=None, timeout=None):
        if data != {"grant_type": "client_credentials"}:
            raise ValueError(f"unexpected token request {data!r}")
        return _Resp({"access_token": TOKEN, "expires_in": 3600})

    def get(self, url, params=None, headers=None, timeout=None):
        if "/data/v3" not in url:
            return _Resp({"dataModels": [
                {"name": "Ed-Fi", "version": "3.3.1-b"},
                {"name": "TPDM", "version": "1.1.0"}]})
        if (headers or {}).get("Authorization") != f"Bearer {TOKEN}":
            raise PermissionError(f"unauthenticated GET {url}")
        if url.endswith("/availableChangeVersions"):
            return _Resp({"oldestChangeVersion": 0,
                          "newestChangeVersion": self.version})
        tail = url.rsplit("/data/v3/", 1)[-1]
        deletes = tail.endswith("/deletes")
        coll = collection_name(tail[: -len("/deletes")] if deletes else tail)
        lo = params.get("minChangeVersion")
        hi = params.get("maxChangeVersion")
        rows = (self.tombstones.get(coll, []) if deletes
                else list(self.live.get(coll, {}).values()))
        if lo is not None or hi is not None:
            lo = 0 if lo is None else lo
            hi = self.version if hi is None else hi
            rows = [r for r in rows if lo <= r[0] <= hi]
        off, lim = params["offset"], params["limit"]
        page = [doc for _, doc in rows[off:off + lim]]
        with self._lock:
            self.pages += 1
        return _Resp(page)
