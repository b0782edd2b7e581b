"""Upload-convert web demo — the reference `web_demo.py` REST surface
re-expressed over this repo's extraction cores, stdlib-only.

The reference ships a Flask app (POST /api/upload → task id, GET
/api/status/<id>, /api/preview/<id>/<fmt>, /api/download/<id>/<fmt>,
/api/supported-formats, /api/tasks — /root/reference/web_demo.py:255-491)
wrapping `DocumentConverter.convert()`. This module keeps the SAME route
shape and output formats (md / text / itxt / json / doctags) but routes
through :func:`docling_spark.job.sniff_content_type` and
:func:`docling_spark.job._extract_one` — the format rule table and the
per-document core the Spark job runs — so the demo and the cluster job
share one conversion path. (The CLI shares the rule table and the
backends, ``job._doc_backend`` and the PDF and METS text paths, but not
``_extract_one``.) No Flask/CORS/yaml dependencies: `http.server` + a
minimal multipart reader, standard library only.

Run: ``python -m docling_spark.web_demo [port]`` then POST a file to
/api/upload (multipart field ``file``, or a raw body with ``?filename=``).
Not a production server — a parity demo (the reference's is the same).
"""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .job import CONTENT_TYPES, DOC_TIMEOUT_S, _extract_one, sniff_content_type

SUPPORTED_INPUTS = list(CONTENT_TYPES)
OUTPUT_FORMATS = ["md", "text", "itxt", "json", "doctags"]

_TASKS: dict[str, dict] = {}
_LOCK = threading.Lock()


def convert_bytes(filename: str, raw: bytes) -> dict:
    """One document through the job's per-document core; returns the task
    record (status, error, outputs per format)."""
    fmt = sniff_content_type(filename, raw)
    res = _extract_one(
        filename, raw, fmt, "none", DOC_TIMEOUT_S, with_doc_json=True, with_doctags=True
    )
    outputs = {}
    if res.get("extracted_text") is not None:
        outputs["md"] = res["extracted_text"]
        outputs["text"] = res["extracted_text"]
    if res.get("itxt"):
        outputs["itxt"] = res["itxt"]
    if res.get("doc_json"):
        outputs["json"] = res["doc_json"]
    if res.get("doctags"):
        outputs["doctags"] = res["doctags"]
    return {
        "filename": filename,
        "format": fmt,
        "status": res["status"],
        "error": res.get("error"),
        "outputs": outputs,
    }


def _read_multipart(body: bytes, content_type: str):
    """Minimal multipart/form-data reader: returns (filename, payload) of
    the first file part. Deterministic boundary split, no cgi module."""
    b_key = "boundary="
    i = content_type.find(b_key)
    if i < 0:
        return None
    boundary = content_type[i + len(b_key):].split(";")[0].strip().strip('"')
    delim = b"--" + boundary.encode()
    for part in body.split(delim):
        if b"\r\n\r\n" not in part:
            continue
        headers, payload = part.split(b"\r\n\r\n", 1)
        hl = headers.decode("latin-1", "replace").lower()
        if "filename=" not in hl:
            continue
        hraw = headers.decode("latin-1", "replace")
        fn = hraw.split("filename=")[1].split("\r\n")[0].strip().strip('"')
        # strip the trailing CRLF that precedes the next boundary
        if payload.endswith(b"\r\n"):
            payload = payload[:-2]
        return fn or "upload", payload
    return None


_INDEX_HTML = """<!doctype html><html><head><title>docling_spark demo</title>
</head><body><h1>docling_spark upload-convert demo</h1>
<form action="/api/upload" method="post" enctype="multipart/form-data">
<input type="file" name="file"/><input type="submit" value="Convert"/></form>
<p>API: POST /api/upload, GET /api/status/&lt;id&gt;,
/api/preview/&lt;id&gt;/&lt;fmt&gt;, /api/download/&lt;id&gt;/&lt;fmt&gt;,
/api/supported-formats, /api/tasks</p></body></html>"""


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet test runs
        pass

    def _send(self, code: int, body: bytes, ctype: str = "application/json",
              extra: dict | None = None) -> None:
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, obj) -> None:
        self._send(code, json.dumps(obj).encode())

    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        parts = urlparse(self.path)
        segs = [s for s in parts.path.split("/") if s]
        if not segs:
            self._send(200, _INDEX_HTML.encode(), "text/html")
            return
        if segs == ["api", "supported-formats"]:
            self._json(200, {"inputs": SUPPORTED_INPUTS,
                             "outputs": OUTPUT_FORMATS})
            return
        if segs == ["api", "tasks"]:
            with _LOCK:
                self._json(200, [
                    {"task_id": k, "filename": v["filename"],
                     "status": v["status"]} for k, v in _TASKS.items()
                ])
            return
        if len(segs) == 3 and segs[:2] == ["api", "status"]:
            with _LOCK:
                task = _TASKS.get(segs[2])
            if task is None:
                self._json(404, {"error": "unknown task"})
                return
            self._json(200, {
                "task_id": segs[2], "filename": task["filename"],
                "format": task["format"], "status": task["status"],
                "error": task["error"],
                "available_formats": sorted(task["outputs"]),
            })
            return
        if len(segs) == 4 and segs[0] == "api" and segs[1] in (
            "preview", "download"
        ):
            _, verb, task_id, fmt = segs
            with _LOCK:
                task = _TASKS.get(task_id)
            if task is None or fmt not in task["outputs"]:
                self._json(404, {"error": "unknown task or format"})
                return
            ctype = "application/json" if fmt == "json" else "text/plain; charset=utf-8"
            extra = {}
            if verb == "download":
                extra["Content-Disposition"] = (
                    f'attachment; filename="{task["filename"]}.{fmt}"'
                )
            self._send(200, task["outputs"][fmt].encode(), ctype, extra)
            return
        self._json(404, {"error": "not found"})

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        parts = urlparse(self.path)
        if [s for s in parts.path.split("/") if s] != ["api", "upload"]:
            self._json(404, {"error": "not found"})
            return
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length)
        ctype = self.headers.get("Content-Type") or ""
        if ctype.startswith("multipart/form-data"):
            got = _read_multipart(body, ctype)
            if got is None:
                self._json(400, {"error": "no file part"})
                return
            filename, payload = got
        else:
            q = parse_qs(parts.query)
            filename = (q.get("filename") or ["upload"])[0]
            payload = body
        task_id = uuid.uuid4().hex[:12]
        record = convert_bytes(filename, payload)
        with _LOCK:
            _TASKS[task_id] = record
        self._json(200, {
            "task_id": task_id, "status": record["status"],
            "format": record["format"],
            "available_formats": sorted(record["outputs"]),
        })


def make_server(port: int = 0) -> ThreadingHTTPServer:
    return ThreadingHTTPServer(("127.0.0.1", port), _Handler)


def main(argv: list[str] | None = None) -> int:
    import sys

    args = argv if argv is not None else sys.argv[1:]
    port = int(args[0]) if args else 5000
    srv = make_server(port)
    print(f"docling_spark web demo on http://127.0.0.1:{srv.server_port}")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
