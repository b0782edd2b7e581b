"""Upload-convert web demo (docling_spark/web_demo.py): the reference
web_demo.py REST surface (upload/status/preview/download/
supported-formats/tasks) over the shared per-document core."""

import json
import threading
import urllib.request

import pytest

from docling_spark.ops.corpus import synth_pdf_bytes
from docling_spark.job import sniff_content_type
from docling_spark.web_demo import make_server

HTML = (
    b"<html><head><title>T</title></head><body><h1>Demo</h1>"
    b"<p>hello web demo</p></body></html>"
)


@pytest.fixture(scope="module")
def base_url():
    srv = make_server(0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, r.read(), dict(r.headers)


def _post(url, data, headers=None):
    req = urllib.request.Request(url, data=data, headers=headers or {})
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, json.loads(r.read())


def test_raw_upload_convert_preview_download(base_url):
    code, resp = _post(f"{base_url}/api/upload?filename=demo.html", HTML)
    assert code == 200 and resp["status"] == "success"
    assert resp["format"] == "html"
    tid = resp["task_id"]
    for fmt in ("md", "itxt", "json", "text"):
        assert fmt in resp["available_formats"]

    code, body, _ = _get(f"{base_url}/api/status/{tid}")
    assert code == 200
    st = json.loads(body)
    assert st["status"] == "success" and st["error"] is None

    code, body, _ = _get(f"{base_url}/api/preview/{tid}/md")
    assert code == 200
    md = body.decode()
    assert "# Demo" in md and "hello web demo" in md

    code, body, hdrs = _get(f"{base_url}/api/download/{tid}/md")
    assert code == 200 and "attachment" in hdrs["Content-Disposition"]

    code, body, _ = _get(f"{base_url}/api/preview/{tid}/json")
    doc = json.loads(body)
    assert doc["schema_name"] == "DoclingDocument"


def test_multipart_upload_pdf(base_url):
    pdf = synth_pdf_bytes(7, "seven ate nine words in a pdf body")
    boundary = "demoboundary123"
    body = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; filename="d.pdf"\r\n'
        "Content-Type: application/pdf\r\n\r\n"
    ).encode() + pdf + f"\r\n--{boundary}--\r\n".encode()
    code, resp = _post(
        f"{base_url}/api/upload",
        body,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 200 and resp["status"] == "success"
    assert resp["format"] == "pdf"
    code, text, _ = _get(f"{base_url}/api/preview/{resp['task_id']}/text")
    assert b"seven ate nine" in text


def test_supported_formats_and_tasks(base_url):
    code, body, _ = _get(f"{base_url}/api/supported-formats")
    got = json.loads(body)
    assert "pdf" in got["inputs"] and "md" in got["outputs"]
    code, body, _ = _get(f"{base_url}/api/tasks")
    assert code == 200 and isinstance(json.loads(body), list)


def test_unknown_task_404(base_url):
    try:
        _get(f"{base_url}/api/status/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_corrupt_upload_contained(base_url):
    """A garbage blob converts to a failure/skipped RECORD, never a 500."""
    code, resp = _post(
        f"{base_url}/api/upload?filename=junk.bin", b"\x00\x01garbage\xff"
    )
    assert code == 200
    assert resp["status"] in ("failure", "skipped", "needs_ocr", "success")


def test_sniffer_matches_job_dispatch_family():
    assert sniff_content_type("a.pdf", b"%PDF-1.4") == "pdf"
    assert sniff_content_type("x", b"WEBVTT\n") == "vtt"
    assert sniff_content_type("x", b"\x89PNG1234") == "image"
    assert sniff_content_type("x", b"RIFF0000WAVE") == "audio"
    assert sniff_content_type("x", b"<!doctype html><html>") == "html"
    assert sniff_content_type("x", b'{"schema_name": "DoclingDocument"}') == "docling_json"
