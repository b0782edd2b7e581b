"""spark-submit entry point (north rule launch mode).

    zip -r engine.zip docling_spark            # or tools/make_pyfiles.py
    spark-submit --py-files engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        $(python -c 'import docling_spark.__main__ as m; print(m.__file__)') \
        --input /path/to/pages_parquet --output /path/to/out --run-id R1

Reads the Common-Crawl-shaped pages table (url, warc_ts, html, text, lang),
runs the resumable chunked extraction (see job.ExtractionRunner), writes
data + lineage + metrics. Re-submitting with the same --run-id resumes from
the last committed chunk.
"""

from __future__ import annotations

import argparse
import json
import sys


def convert_main(argv: list[str]) -> int:
    """Reference-CLI parity (`docling <sources> --to md --output dir`,
    /root/reference/docling/cli/main.py:307): convert local files through
    the job's format sniff and backends, no Spark session needed."""
    from .job import CONTENT_TYPES, RESULT_TYPES, _doc_backend, sniff_content_type

    ext_map = {
        "md": ".md",
        "itxt": ".itxt",
        "json": ".json",
        "text": ".txt",
        "html": ".html",
        "doctags": ".doctags.txt",
    }

    def comma_list(choices, what: str):
        def parse(value: str) -> list[str]:
            names = [f.strip() for f in value.split(",") if f.strip()]
            unknown = sorted(set(names) - set(choices))
            if unknown:
                raise argparse.ArgumentTypeError(
                    f"unknown {what}(s) {','.join(unknown)}; "
                    f"choose from {','.join(choices)}"
                )
            return names

        return parse

    def page_range(value: str) -> tuple[int, int]:
        a, _, b = value.partition("-")
        try:
            return int(a), int(b or a)
        except ValueError:
            raise argparse.ArgumentTypeError(
                f"invalid page range {value!r}; expected A-B or A"
            ) from None

    p = argparse.ArgumentParser(prog="docling_spark convert")
    p.add_argument("sources", nargs="+", help="input files of any supported format")
    p.add_argument(
        "--to",
        type=comma_list(ext_map, "output format"),
        default="md",
        help=f"comma list of {','.join(ext_map)}",
    )
    p.add_argument("--output", default=".", help="output directory")
    p.add_argument(
        "--pdf-password",
        default="",
        help="password for encrypted PDFs (standard security handler)",
    )
    p.add_argument(
        "--page-range",
        type=page_range,
        default=(1, 2**31 - 1),
        metavar="A-B",
        help="1-based inclusive PDF page range (reference --page-range)",
    )
    p.add_argument(
        "--max-num-pages",
        type=int,
        default=None,
        help="fail PDFs with more pages (reference DocumentLimits)",
    )
    p.add_argument(
        "--abort-on-error",
        action="store_true",
        help="stop at the first failed document (reference raises_on_error)",
    )
    p.add_argument(
        "--version",
        action="version",
        version="docling_spark 3.0 (docling 2.63.0 replication contract)",
    )
    p.add_argument(
        "--from",
        dest="from_formats",
        type=comma_list(CONTENT_TYPES, "format"),
        default=None,
        help=f"comma allowlist of input formats ({', '.join(CONTENT_TYPES)}); "
        "others are skipped",
    )
    args = p.parse_args(argv)

    from pathlib import Path

    from .metsx import extract_mets_gbs
    from .pdfx.extract import extract_pdf_text
    from .serialize import to_itxt, to_markdown
    from .serialize_doctags import to_doctags
    from .serialize_html import to_html
    from .serialize_json import to_docling_json

    outdir = Path(args.output)
    outdir.mkdir(parents=True, exist_ok=True)
    failures = 0
    for src in args.sources:
        path = Path(src)
        try:
            raw = path.read_bytes()
            fmt = sniff_content_type(path.name, raw)
            if args.from_formats is not None and fmt not in args.from_formats:
                print(f"skipped {path.name}: format {fmt} not in --from")
                continue
            if fmt in RESULT_TYPES:
                # PDF and METS take the job's text paths: md/text only
                if fmt == "pdf":
                    kind = "PDF"
                    res = extract_pdf_text(
                        raw,
                        password=args.pdf_password,
                        page_range=args.page_range,
                        max_num_pages=args.max_num_pages,
                    )
                else:
                    kind = "METS"
                    res = extract_mets_gbs(raw)
                if res.status == "skipped":
                    print(f"skipped {path.name}: {res.error}")
                    continue
                if res.status == "failure":
                    raise RuntimeError(res.error or res.status)
                outputs = {"md": res.text, "text": res.text}
                dropped = [to for to in args.to if to not in outputs]
                if dropped:
                    print(
                        f"skipped {path.name} outputs {','.join(dropped)}: "
                        f"the {kind} text path writes md and text only"
                    )
            else:
                routed = _doc_backend(fmt, raw, path.name, "none")
                if routed is None:
                    print(f"skipped {path.name}: unsupported format {fmt}")
                    continue
                doc, filename, mimetype, itxt_width, md_kwargs = routed
                kw = {} if mimetype is None else {"mimetype": mimetype}
                serializers = {
                    "md": lambda: to_markdown(doc, **md_kwargs),
                    "text": lambda: to_markdown(doc, **md_kwargs),
                    "itxt": lambda: to_itxt(doc, itxt_width),
                    "json": lambda: to_docling_json(doc, filename, raw, **kw),
                    "html": lambda: to_html(doc),
                    "doctags": lambda: to_doctags(doc),
                }
                outputs = {f: serializers[f]() for f in args.to if f in serializers}
        except Exception as e:  # noqa: BLE001 — per-file containment
            print(f"FAILED {path.name}: {e}", file=sys.stderr)
            failures += 1
            if args.abort_on_error:
                return 1
            continue
        written = [to for to in args.to if outputs.get(to) is not None]
        for to in written:
            (outdir / (path.stem + ext_map[to])).write_text(outputs[to])
        if written:
            print(f"converted {path.name}")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "convert":
        return convert_main(argv[1:])
    if argv and argv[0] == "web":
        # reference web_demo.py analog: upload-convert REST demo
        from docling_spark.web_demo import main as web_main

        return web_main(argv[1:])
    p = argparse.ArgumentParser(prog="docling_spark")
    p.add_argument("--input", required=True, help="pages table path (parquet/iceberg)")
    p.add_argument("--output", required=True, help="output root (data/ + lineage/)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--num-chunks", type=int, default=64)
    p.add_argument("--base-uri-mode", choices=["none", "url"], default="none")
    p.add_argument("--max-bytes", type=int, default=64 * 1024 * 1024)
    p.add_argument("--no-dedup-latest", action="store_true")
    p.add_argument(
        "--since-snapshot",
        default=None,
        help="previous crawl snapshot path: process only added/changed "
        "urls (crawl CDC, ops/snapshot.delta_worklist) — the O(delta) "
        "nightly incremental mode",
    )
    p.add_argument("--pdf-password", default="")
    p.add_argument("--master", default=None, help="only for local runs; under spark-submit leave unset")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    # absolute import: under `spark-submit path/to/__main__.py` this file is
    # a top-level script, and the package itself arrives via --py-files
    from docling_spark.job import ExtractionRunner, RunConfig, tuned_session

    if args.master:
        spark = tuned_session(master=args.master)
    else:
        # under spark-submit the session/config comes from the launcher
        spark = SparkSession.builder.getOrCreate()

    pages = spark.read.parquet(args.input)
    if args.since_snapshot:
        from docling_spark.ops.snapshot import delta_worklist

        old = spark.read.parquet(args.since_snapshot)
        pages = delta_worklist(old, pages).drop("status")
    cfg = RunConfig(
        run_id=args.run_id,
        output_path=args.output,
        num_chunks=args.num_chunks,
        base_uri_mode=args.base_uri_mode,
        max_bytes=args.max_bytes,
        dedup_latest=not args.no_dedup_latest,
        pdf_password=args.pdf_password,
    )
    stats = ExtractionRunner(spark, cfg).run(pages)
    print(json.dumps({"run_id": args.run_id, **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
