"""Byte stability of the minipdf fixture writers.

Every ``make_pdf*`` writer is hashed on fixed inputs and compared with
the digest its output had before the writers shared one page-tree/xref
builder. perfbench's ``ingest`` corpus is ``make_pdf`` output, so a
changed byte here changes every benchmark input.
"""

from __future__ import annotations

import hashlib

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark.sources import (
    minipdf as MP,
)

LINES = [["alpha line one", "alpha (paren) back\\slash"], ["beta solo"]]
JP = [["ベクトル検索は楽しい", "PostgreSQL + pgvector 入門"], ["2ページ目: 行"]]
# 130 distinct characters: the ToUnicode CMap needs two bfchar blocks.
WIDE = ["".join(chr(0x4E00 + i) for i in range(120)) + "abcdefghij", "tail"]

CASES = {
    "make_pdf_str": lambda: MP.make_pdf(["first page\nsecond line", "p2"]),
    "make_pdf_lines": lambda: MP.make_pdf(LINES),
    "make_pdf_encoded_base": lambda: MP.make_pdf_encoded(
        [["résumé — €12"]], base="WinAnsiEncoding"
    ),
    "make_pdf_encoded_differences": lambda: MP.make_pdf_encoded(
        [["a • b"]], base="MacRomanEncoding", differences={136: "bullet"}
    ),
    "make_pdf_encoded_no_base": lambda: MP.make_pdf_encoded(
        [["plain ascii"]], base=None
    ),
    "make_pdf_encoded_no_base_differences": lambda: MP.make_pdf_encoded(
        [["x • y"]], base=None, differences={136: "bullet"}
    ),
    "make_pdf_15": lambda: MP.make_pdf_15(LINES),
    "make_pdf_encrypted_rc4": lambda: MP.make_pdf_encrypted(
        LINES, scheme="rc4", user_pw=b"reader"
    ),
    "make_pdf_encrypted_aesv2": lambda: MP.make_pdf_encrypted(
        LINES, scheme="aesv2", user_pw=b"reader"
    ),
    "make_pdf_encrypted_aesv3": lambda: MP.make_pdf_encrypted(
        LINES, scheme="aesv3", user_pw=b"reader"
    ),
    "make_pdf_cid_wide": lambda: MP.make_pdf_cid(WIDE),
    "make_pdf_cid_jp": lambda: MP.make_pdf_cid(JP),
    "make_pdf_type0_embedded": lambda: MP.make_pdf_type0_embedded(
        [["mañana 中文 text", "déjà vu abcd"], ["xyz"]]
    ),
    "make_pdf_cff_simple": lambda: MP.make_pdf_cff_simple(
        [["café déjà — naïve", "A1!"], ["zz"]]
    ),
}

DIGESTS = {
    "make_pdf_15": "2efaad3ebbf01bdf4ba6603888f8453989fae005e7f98a55bb40040b791cb289",
    "make_pdf_cff_simple": "408d0ef625a9592b8eab28d6e6f13f1db7f239003ece4c54edbd439cb7add15a",
    "make_pdf_cid_jp": "51b8f7f598e7fafb889770162aa915b36e924c6a4d31b077171e3fb852713bd4",
    "make_pdf_cid_wide": "988d33f2d7ee4fbba19856d8fbb27930fd93615a8138b4d084e7ed8c93eeebfb",
    "make_pdf_encoded_base": "475f2210ffe896bf1fe33156171eab6bc85c05f1315c50d1ca8b03e25a4b6a85",
    "make_pdf_encoded_differences": "ddec17e58e7f653e0ea5ea9029038dfaff0d84ac5803d5cc3f3adaeefe71bfa8",
    "make_pdf_encoded_no_base": "6d149e0bda549ac4bf4fc3f4b199b896a70c309cf6e5d15247cec220e54b77f4",
    "make_pdf_encoded_no_base_differences": "2fc6939cab5711c442d8ed672559322a05cb6e795d51ceb5654dd9af27d84355",
    "make_pdf_encrypted_aesv2": "9bfd87c4d575ff5698bd0755fc39941302d8d14d8899c1ee38c1862816f54c96",
    "make_pdf_encrypted_aesv3": "9fb6ed61b3db15cce8769597bf1c379b09d59918432b52a15620f96cb65af4f9",
    "make_pdf_encrypted_rc4": "c6acd76fd003b265102bfe4c7d7ec809c74ab7cace64ef566bdf61c5604a7b3b",
    "make_pdf_lines": "06e101837ee188cdaf88d99a00a7d9c2e9cc6bf9ed60074a4829277d4f57c8fb",
    "make_pdf_str": "47a34f6a0ff0b2ce8025d79005f45836be11f2c90459607920ad253469bcb9bd",
    "make_pdf_type0_embedded": "c4b9c15b459b6285246545cd7042c534e5358df2c6bf79cbc33422adbbdf81e1",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_writer_output_is_byte_stable(case):
    assert hashlib.sha256(CASES[case]()).hexdigest() == DIGESTS[case]
