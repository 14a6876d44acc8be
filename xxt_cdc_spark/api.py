"""Management/introspection surface (M37 parity).

The reference exposes /api/v1/{health,status,metrics,components}
(api/CDCManagementAPI.scala:53-270). Here each endpoint is a plain
function returning a JSON-able dict — an HTTP layer (Flask/FastAPI,
not in this image) can mount them 1:1; `serve()` offers a stdlib
http.server for ops parity without dependencies.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field

from xxt_cdc_spark.model.states import CDCState
from xxt_cdc_spark.obs.metrics import HealthCheck, MetricsSnapshot


@dataclass
class ManagementAPI:
    metrics: MetricsSnapshot = field(default_factory=MetricsSnapshot)
    health_check: HealthCheck = field(default_factory=HealthCheck)
    state: CDCState = CDCState.INIT
    components: dict[str, str] = field(default_factory=dict)
    config: dict = field(default_factory=dict)
    # when set, every HTTP request re-reads the metrics through it (the
    # CLI polls its running query with ``snapshot_from_query``)
    poll: Callable[[], MetricsSnapshot] | None = None

    _REDACT = ("password", "secret", "token", "key")

    # GET /api/v1/health
    def health(self) -> dict:
        return self.health_check.check(self.metrics)

    # GET /api/v1/status
    def status(self) -> dict:
        return {"state": self.state.value, "uptime_s": self.metrics.uptime_s}

    # GET /api/v1/metrics
    def metrics_endpoint(self) -> dict:
        return self.metrics.as_dict()

    # GET /api/v1/components
    def components_endpoint(self) -> dict:
        return {"components": dict(self.components)}

    # GET /api/v1/hotset
    def hotset(self, top_n: int = 10) -> dict:
        ranked = sorted(self.metrics.per_table.items(), key=lambda kv: (-kv[1], kv[0]))
        return {"hot_tables": [{"table": t, "events": n} for t, n in ranked[:top_n]]}

    # GET /api/v1/config — redacted configuration echo (reference
    # api/CDCManagementAPI.scala /config endpoint)
    def config_endpoint(self) -> dict:
        def redact(d):
            if isinstance(d, dict):
                return {
                    k: ("***" if any(s in k.lower() for s in self._REDACT) else redact(v))
                    for k, v in d.items()
                }
            return d

        return {"config": redact(self.config)}

    # GET /api/v1/tables/{table}/activity — per-table event activity
    def table_activity(self, table: str) -> dict:
        total = sum(self.metrics.per_table.values()) or 1
        n = self.metrics.per_table.get(table, 0)
        return {"table": table, "events": n, "share": n / total}

    def routes(self) -> dict:
        return {
            "/api/v1/health": self.health,
            "/api/v1/status": self.status,
            "/api/v1/metrics": self.metrics_endpoint,
            "/api/v1/components": self.components_endpoint,
            "/api/v1/hotset": self.hotset,
            "/api/v1/config": self.config_endpoint,
        }

    def dispatch(self, path: str):
        """Resolve a request path to a payload-producing callable, or
        None for 404. Handles the one parameterized route."""
        fn = self.routes().get(path)
        if fn is not None:
            return fn
        if path.startswith("/api/v1/tables/") and path.endswith("/activity"):
            table = path[len("/api/v1/tables/") : -len("/activity")]
            if table and "/" not in table:
                return lambda: self.table_activity(table)
        return None

    # GET /metrics — Prometheus text exposition (M33 parity, reference
    # metrics/PrometheusMetrics.scala:18-120); everything else is JSON
    def prometheus_endpoint(self) -> str:
        from xxt_cdc_spark.obs.report import prometheus_text

        return prometheus_text(self.metrics)

    def refresh(self) -> None:
        """Re-read the metrics through ``poll``, keeping the uptime's
        start."""
        if self.poll is not None:
            snap = self.poll()
            snap.started_at = self.metrics.started_at
            self.metrics = snap

    def _make_server(self, port: int, host: str):
        import http.server

        api = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API)
                api.refresh()
                if self.path == "/metrics":
                    body = api.prometheus_endpoint().encode()
                    ctype = "text/plain; version=0.0.4; charset=utf-8"
                else:
                    fn = api.dispatch(self.path)
                    if fn is None:
                        self.send_response(404)
                        self.end_headers()
                        return
                    body = json.dumps(fn()).encode()
                    ctype = "application/json"
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        return http.server.ThreadingHTTPServer((host, port), Handler)

    def start(self, port: int = 0, host: str = "127.0.0.1"):
        """Non-blocking sidecar: serve the management surface from a
        daemon thread (the reference runs its API inside the service
        process too). ``port=0`` binds an ephemeral port — read it from
        the returned server's ``server_address``. Call
        ``server.shutdown()`` to stop."""
        import threading

        server = self._make_server(port, host)
        t = threading.Thread(target=server.serve_forever, name="cdc-mgmt-api", daemon=True)
        t.start()
        return server

    def serve(self, port: int = 8080):  # pragma: no cover - ops helper
        """Blocking variant of ``start`` (ops entry point)."""
        self._make_server(port, "0.0.0.0").serve_forever()
