"""Start the protection service for the ``service_http`` workload.

Usage: ``python3 server_main.py <spans.json|->``

Prints the server URL on one line, serves until its stdin closes, then
stops. Given a path, it wraps the request parse, auth, ``PageProtector``
and response-build calls (and the core layers under ``PageProtector``)
and writes the spans there as JSON when it stops.
"""

from __future__ import annotations

import itertools
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from common import Tracer  # noqa: E402
from pages import API_KEY, CLIENT_ID, patch_page_layers  # noqa: E402


def patch_server(tracer: Tracer, server) -> None:
    handler = server._Handler
    do_post = handler.do_POST
    requests = itertools.count()

    def traced_post(self):
        # one client at a time: the request number ids its spans
        tracer.op_id = next(requests)
        name = "server.token" if self.path == "/token" else "server.request"
        return tracer.wrap(name, do_post)(self)

    handler.do_POST = traced_post
    tracer.patch(handler, "handle", "server.connection")
    tracer.patch(handler, "_read_body", "server.parse")
    tracer.patch(handler, "_authorized", "server.auth")
    tracer.patch(handler, "_reply", "server.respond")
    for request in (server.EncryptJsonRequest, server.DecryptJsonRequest):
        request.parse = tracer.wrap("server.parse", request.parse)
    tracer.patch(server, "build_encrypt_response", "server.respond")
    tracer.patch(server, "build_decrypt_response", "server.respond")
    tracer.patch(server, "_protector_from_request", "server.kernel")
    protector = server.PageProtector
    server.PageProtector = type(
        "TracedPageProtector",
        (protector,),
        {
            "encrypt": tracer.wrap("server.kernel", protector.encrypt),
            "decrypt": tracer.wrap("server.kernel", protector.decrypt),
        },
    )


def main() -> None:
    from databatchprotectionservice_spark.service import server
    from databatchprotectionservice_spark.service.auth import ClientCredentialStore

    spans_path = sys.argv[1]
    tracer = Tracer() if spans_path != "-" else None
    if tracer:
        patch_page_layers(tracer)
        patch_server(tracer, server)
    store = ClientCredentialStore(jwt_secret_key="perfbench-jwt-secret")
    store.add_credential(CLIENT_ID, API_KEY)
    api = server.ProtectionApiServer(store).start()
    try:
        print(api.url, flush=True)
        sys.stdin.read()
    finally:
        api.stop()
    if tracer:
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)


if __name__ == "__main__":
    main()
