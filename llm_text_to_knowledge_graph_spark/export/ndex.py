"""NDEx CX2 upload sink (reference S8).

Re-expresses the reference's NDEx publish step (``textToKnowledgeGraph/
main.py:100-106``: ``Ndex2(username=..., password=...)`` then
``client.save_new_cx2_network(cx2_network.to_cx2())``) with the network
transport injected, so the request the public NDEx REST API would receive is
built and verified in-sandbox without performing I/O.

Public-knowledge basis: the NDEx REST API and the open-source ndex2 Python
client.  CX2 networks are created by POSTing the CX2 JSON aspect list to the
``/v3/networks`` collection with HTTP Basic auth; the service answers 201
with a ``Location`` header whose final path segment is the new network UUID.
This module builds exactly that request shape as a plain dict and hands it
to a ``transport`` callable.  In production the transport is a thin
urllib/requests adapter; in this sandbox (no network) the default transport
refuses loudly rather than pretending to publish — the same honest-stub
convention as the codec entropy layers in ``operators/multimodal.py``.

Why a sink and not an operator: upload is per-network (one CX2 document per
paper subgraph), so at 100-TB scale it runs ``foreachPartition`` over the
export table with one client per partition — requests stream out of
executors, nothing aggregates on the driver.  ``upload_partition`` below is
that executor-side body.
"""

from __future__ import annotations

import base64
import json
from typing import Callable, Iterable, Iterator, Optional

DEFAULT_SERVER = "https://www.ndexbio.org"


class NdexTransportDisabled(RuntimeError):
    """Raised by the default transport: this sandbox performs no network I/O."""


def _no_network(request: dict) -> dict:
    raise NdexTransportDisabled(
        "NDEx upload built the request but this environment performs no "
        "network I/O; inject transport=... to deliver it"
    )


class NdexClient:
    """Minimal CX2-capable NDEx client with injected transport.

    Mirrors the two reference touch-points: construction with
    username/password (main.py:104) and ``save_new_cx2_network``
    (main.py:105).  ``transport`` is ``Callable[[dict], dict]`` taking a
    request dict (method/url/headers/body) and returning a response dict
    with ``status`` and ``headers``.
    """

    def __init__(
        self,
        username: str,
        password: str,
        server: str = DEFAULT_SERVER,
        transport: Optional[Callable[[dict], dict]] = None,
    ) -> None:
        if not username or not password:
            # main.py:101-103 refuses upload without credentials.
            raise ValueError("NDEx email and password are required to upload")
        self.server = server.rstrip("/")
        token = base64.b64encode(f"{username}:{password}".encode()).decode()
        self._auth = f"Basic {token}"
        self._transport = transport or _no_network

    def build_save_request(self, cx2: list, visibility: str = "PRIVATE") -> dict:
        """The POST /v3/networks request for one CX2 aspect list."""
        if not isinstance(cx2, list):
            raise TypeError("CX2 payload must be the aspect list from to_cx2()")
        return {
            "method": "POST",
            "url": f"{self.server}/v3/networks?visibility={visibility}",
            "headers": {
                "Authorization": self._auth,
                "Content-Type": "application/json",
            },
            "body": json.dumps(cx2, separators=(",", ":")),
        }

    def save_new_cx2_network(self, cx2: list, visibility: str = "PRIVATE") -> str:
        """POST the network; return the new network UUID from Location."""
        resp = self._transport(self.build_save_request(cx2, visibility))
        status = resp.get("status")
        if status not in (200, 201):
            raise RuntimeError(f"NDEx save failed: HTTP {status}")
        location = resp.get("headers", {}).get("Location", "")
        return location.rstrip("/").rsplit("/", 1)[-1]


def upload_to_ndex(
    cx2: list,
    ndex_email: Optional[str],
    ndex_password: Optional[str],
    transport: Optional[Callable[[dict], dict]] = None,
    server: str = DEFAULT_SERVER,
) -> Optional[str]:
    """Reference main.py:100-106 control flow: validate, construct, save.

    Returns the network UUID, or None (with no exception) when credentials
    are absent — the reference logs an error and returns False there.
    """
    if not ndex_email or not ndex_password:
        return None
    client = NdexClient(ndex_email, ndex_password, server=server, transport=transport)
    return client.save_new_cx2_network(cx2)


def upload_partition(
    rows: Iterable,
    ndex_email: str,
    ndex_password: str,
    transport: Optional[Callable[[dict], dict]] = None,
    server: str = DEFAULT_SERVER,
) -> Iterator[tuple]:
    """Executor-side body for ``df.rdd.mapPartitions``/``foreachPartition``.

    ``rows`` carry a ``name`` column and a ``cx2_json`` string column: one
    network per row, which the caller serialises by ``json.dumps`` of
    ``export.cx2.to_cx2(...)``'s aspect list.  One client (one auth header
    construction) per partition; yields (network_name, uuid) so the upload
    manifest is itself a DataFrame and failures surface as task errors, not
    silent skips.
    """
    client = NdexClient(ndex_email, ndex_password, server=server, transport=transport)
    for row in rows:
        uuid = client.save_new_cx2_network(json.loads(row.cx2_json))
        yield (row.name, uuid)
