"""Byte lock on the synthetic corpora.

Every DuckDB oracle that checks extraction reads a corpus built by one of
the ``synth_pages*`` builders (or, for the media rows, ``synth_media``,
``synth_phash_corpus`` and ``synth_audio_corpus``), so a change in any
builder's rows, schema or width silently moves what the oracles measure.
Each case pins:

- a sha256 over the rows sorted by their first column (url, or doc_id for
  the media corpora), with binary columns hashed and every other column
  cast to string in the JVM;
- the schema string;
- the partition count, which must equal ``defaultParallelism`` (one
  partition per core).
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from docling_spark.ops import audiofp, corpus, imagededup, multimodal

SF = "/root/testdata/sf0.01"

PAGES = "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
MEDIA = (
    "struct<doc_id:bigint,image:binary,png:binary,video:binary,"
    "gif_video:binary,apng_video:binary,audio:binary,wav:binary,jpeg:binary,"
    "jpeg_full:binary,tiff:binary,gif:binary,bmp:binary,webp:binary,"
    "mp4:binary,mp4_pcm:binary>"
)

# case -> (builder, kwargs, schema string, sha256 of the sorted rows)
CASES = {
    "synth_pages": (
        corpus.synth_pages, {}, PAGES,
        "98dcda8279d6fe5155bdbd3f0886bf46073b17f31db46df30afb4884341d20b7",
    ),
    "synth_pages_variants2": (
        corpus.synth_pages, {"variants": 2}, PAGES,
        "86a79324effd748b1323c692c7839bf4e362bf6e71c2ef179d5bc4076b4eba88",
    ),
    "synth_pages_asciidoc": (
        corpus.synth_pages_asciidoc, {}, PAGES,
        "9cf58e7f7f727ed9ff6d3fb64a43b3fb2483d8b8f41ba8a5c36087fbb28758a2",
    ),
    "synth_pages_csv": (
        corpus.synth_pages_csv, {}, PAGES,
        "360418f41cf1c79f669dd2a2db899a60659fd9309fc76777bf182f8c51baff48",
    ),
    "synth_pages_deep": (
        corpus.synth_pages_deep, {}, PAGES,
        "f48d7d09dca35620c158c617bd32fd1b6fb438239fad19c9fca6beb0e3565250",
    ),
    "synth_pages_doctags": (
        corpus.synth_pages_doctags, {}, PAGES,
        "086347f6662bc2c21e1f73a8d05b2c20d7a0d7176bbdc355c1201563ef456d41",
    ),
    "synth_pages_docx": (
        corpus.synth_pages_docx, {}, PAGES,
        "20882f1914c9abcd9dd6112c3aa2e25c42ddb49ff24b1d06d95bfa4aab17aa2a",
    ),
    "synth_pages_md": (
        corpus.synth_pages_md, {}, PAGES,
        "935023b41baf1d4d0058bcb1e93ef250928574ef8fc79ce209a8ee7619179aa7",
    ),
    "synth_pages_ofd": (
        corpus.synth_pages_ofd, {}, PAGES,
        "b7bbffb7f23d76b48f6ac5a3594453891ede3c1a5f3e6172dc6fbdb0b5bb299c",
    ),
    "synth_pages_pdf": (
        corpus.synth_pages_pdf, {}, PAGES,
        "b9bcd23f650a23042bf35a05e07e4865e5496fdcc1347e3b8d5cdf62b0642fc9",
    ),
    "synth_pages_pdf_encrypted": (
        corpus.synth_pages_pdf_encrypted, {}, PAGES,
        "c8f6241082bd4024ea20b5d8994ebcec0dd0bbe686250924ea5df50545e23505",
    ),
    "synth_pages_pdf_images": (
        corpus.synth_pages_pdf_images, {},
        "struct<url:string,doc_id:bigint,html:binary>",
        "560cdc84ed9bd85fc830b4ca3affd87ad6ae1f747842aec85c4e74c5860ce94c",
    ),
    "synth_pages_pdf_invoice": (
        corpus.synth_pages_pdf_invoice, {}, PAGES,
        "f8b37642a68de69f5093086820bdfc9ac5282ea7aaa37db95dcab54908bb05ed",
    ),
    "synth_pages_pdf_structured": (
        corpus.synth_pages_pdf_structured, {}, PAGES,
        "df7e0af2aa79a7183a45bf4a073a289b99608726c18d217e08188d193142a116",
    ),
    "synth_pages_uspto": (
        corpus.synth_pages_uspto, {}, PAGES,
        "3021b1022631e044191baa8277a6e22abffe9c56659da21d94c6c9ec5cdfbcd2",
    ),
    "synth_pages_xlsx": (
        corpus.synth_pages_xlsx, {}, PAGES,
        "20b31192278f423bd474ae16e3c34c54ba376dd402fc59d5a6f4de772d672a56",
    ),
    "synth_media": (
        multimodal.synth_media, {}, MEDIA,
        "353bedb31f4dcfb4f459c1277b5ca95eb1b5821428f446e6b12f499ae5a5f0f4",
    ),
    "synth_phash_corpus": (
        imagededup.synth_phash_corpus, {}, "struct<doc_id:bigint,png:binary>",
        "4291d017142e83550712fe36399fcde770b3140c9c97242dc5e16ac00fcae19a",
    ),
    "synth_audio_corpus": (
        audiofp.synth_audio_corpus, {}, "struct<doc_id:bigint,wav:binary>",
        "da2bbb6b2533cf3fe3b26c24fb63d2ca94e9943a880fa87ef6e3eb6f5d81091e",
    ),
}


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("corpus-lock")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s


def corpus_digest(df) -> str:
    cols = [
        F.sha2(F.col(f.name), 256) if isinstance(f.dataType, BinaryType)
        else F.col(f.name).cast("string")
        for f in df.schema.fields
    ]
    rows = sorted(tuple(r) for r in df.select(*cols).collect())
    h = hashlib.sha256()
    for r in rows:
        h.update(("\t".join("" if v is None else v for v in r) + "\n").encode())
    return h.hexdigest()


@pytest.mark.parametrize("case", list(CASES))
def test_corpus_bytes_locked(spark, case):
    build, kwargs, schema, digest = CASES[case]
    df = build(spark, SF, **kwargs)
    assert df.schema.simpleString() == schema
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert corpus_digest(df) == digest
