"""Local HTTP servers for tests, each on a port no earlier server of the
test session held.

Python workers are reused across tests, and the fetch stage caches each
origin's robots.txt verdict per worker (``fetch_http._ROBOTS_CACHE``: an
hour for a definitive verdict, 120 s for a non-definitive one). A server
bound to a port that an earlier test's server held would be answered
from the earlier server's cached verdict, so ports are never reused.
"""

import http.server
import threading

_HANDED_OUT: set[int] = set()


def serve(handler, server_cls=http.server.ThreadingHTTPServer):
    """Start ``server_cls`` on 127.0.0.1 with ``handler`` on a thread and
    return it; its port differs from every port this function handed
    out before in this process."""
    held = []
    try:
        srv = server_cls(("127.0.0.1", 0), handler)
        while srv.server_port in _HANDED_OUT:
            # keep the reused port bound so the next bind gets another
            held.append(srv)
            srv = server_cls(("127.0.0.1", 0), handler)
    finally:
        for s in held:
            s.server_close()
    _HANDED_OUT.add(srv.server_port)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
