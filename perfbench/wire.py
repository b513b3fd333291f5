"""A minimal Trino v1 client: POST /v1/statement, then GET nextUri until
it disappears — what the Trino CLI and trino-python-client do."""
import http.client
import json
import time
from urllib.parse import urlsplit


class StatementError(RuntimeError):
    pass


class Client:
    """One keep-alive connection, like one Superset worker's session.
    Counts requests and response bytes for the wire layer."""

    def __init__(self, port, user="perfbench"):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.headers = {"X-Trino-User": user, "X-Trino-Catalog": "iceberg"}
        self.requests = 0
        self.response_bytes = 0

    def _request(self, method, path, body=None):
        self.conn.request(method, path, body=body, headers=self.headers)
        r = self.conn.getresponse()
        data = r.read()
        self.requests += 1
        self.response_bytes += len(data)
        if r.status != 200:
            raise StatementError(f"HTTP {r.status}: {data[:300]!r}")
        return json.loads(data)

    def execute(self, sql):
        """Run one statement; return (columns, rows, t_start, t_end) with
        wall-clock bounds in seconds. Raises StatementError on FAILED."""
        t0 = time.time()
        node = self._request("POST", "/v1/statement", sql.encode())
        cols, rows = None, []
        while node.get("nextUri"):
            node = self._request("GET", urlsplit(node["nextUri"]).path)
            if "columns" in node and cols is None:
                cols = [c["name"] for c in node["columns"]]
            rows.extend(node.get("data") or [])
        t1 = time.time()
        state = node.get("stats", {}).get("state")
        if state != "FINISHED":
            err = node.get("error", {}).get("message", "")
            raise StatementError(f"{state}: {err[:500]} <- {sql[:200]}")
        return cols or [], rows, t0, t1

    def close(self):
        self.conn.close()
