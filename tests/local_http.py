"""Local HTTP servers for tests, each on a port no earlier server of the
test session held.

A test's server is named by the URLs its test crawls: frontier and
ledger rows, WARC records, and the robots verdict resolved at that
origin. A server bound to a port that an earlier test's server held
would answer for URLs the earlier test recorded, so any state that
outlives a test could mix the two servers. Ports are never reused, so
a URL names one server per test session.
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
