"""The six PDF sidecar corpora in ops/spans.py, pinned byte for byte
without a Spark session: every (url, pdf bytes, expected rows) triple,
in order, hashed.  The golden parquet files and the oracles are built
from these corpora, so any drift in the shared fixture skeleton shows
here first."""

import hashlib
import json

import pytest

from pdf_parser_spark.ops import spans

_PINNED = {
    "fixture_linked_pages":
        "d77905996b7c578ca336c1f5c034bd04b5d690b64435e8881274fd1cd453f8b6",
    "fixture_outlined_pages":
        "42f52ed9942606872f548d933bc2d9d8113492ef2d0f752bd13fcc39abf30622",
    "fixture_form_pages":
        "6af672ccae222530a89fe91ad3fc4184f2e3a83fda2a27c99e2d55bba3525599",
    "fixture_labeled_pages":
        "c04badd7da9a8345ffdc55642c8e80cc807868cff5fffc021f7c623d9516601a",
    "fixture_meta_pages":
        "1ef3ea6056df745341c49f458450080cbd5d79529f89a23f70f1d37534c19bef",
    "fixture_table_pages":
        "2463ebf5a96714dcda106779ec52eb5e91afdf67d299c0227a79eb2b06911f0e",
}


@pytest.mark.parametrize("builder", sorted(_PINNED))
def test_pdf_corpus_is_pinned(builder):
    corpus = getattr(spans, builder)()
    h = hashlib.sha256()
    for url, pdf, expected in corpus:
        h.update(url.encode("utf-8") + b"\0" + pdf + b"\0"
                 + json.dumps(expected).encode("utf-8") + b"\1")
    assert len(corpus) == 33
    assert h.hexdigest() == _PINNED[builder]
