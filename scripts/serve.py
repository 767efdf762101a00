"""Run the serving layer over a lake dir — the api-node process
(``src/api/server.ts``) of this engine.

    python scripts/serve.py [sf_dir] [port] [ws_port] [sio_port]

Serves the full REST surface (33 routes, api/http_server.py +
api/http_routes.py), the SSE stream, the acked WebSocket stream
(api/ws_stream.py — the Socket.IO replay contract on plain RFC 6455),
AND the Socket.IO-compatible endpoint a stock Hyperion stream client
connects to (api/socketio_stream.py, EIO=4 websocket transport) from
one long-lived SparkSession; Ctrl-C stops. Live subscribers on all
three stream surfaces share the API's one relay (``api.relay``). A
fleet deployment runs N of these per shared session pool behind any
HTTP load balancer.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 7000
    ws_port = int(sys.argv[3]) if len(sys.argv) > 3 else port + 1
    sio_port = int(sys.argv[4]) if len(sys.argv) > 4 else port + 2

    from hyperion_history_api_spark.api.http_server import (
        HyperionAPI,
        make_server,
    )
    from hyperion_history_api_spark.api.socketio_stream import (
        SocketIOStreamServer,
    )
    from hyperion_history_api_spark.api.ws_stream import WsStreamServer
    from hyperion_history_api_spark.session import get_spark

    spark = get_spark("hyperion-http")
    spark.sparkContext.setLogLevel("ERROR")
    api = HyperionAPI(spark, sf_dir)
    server = make_server(api, port=port)
    host, bound = server.server_address[:2]
    ws = WsStreamServer(api, port=ws_port)
    sio = SocketIOStreamServer(api, port=sio_port)
    print(f"serving {sf_dir} on http://{host}:{bound}  (Ctrl-C to stop)")
    print(f"routes: {len(api.routes)} REST + /v2/stream (SSE) + "
          f"ws://{host}:{ws.port} (acked replay/live) + "
          f"ws://{host}:{sio.port}/socket.io (EIO=4 stock clients)")
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        server.shutdown()
    finally:
        ws.close()
        sio.close()


if __name__ == "__main__":
    main()
