"""Regex code extraction — the CodeAnalyser rebuild.

Reference: utils/nlp/CodeAnalyser/CodeAnalyserService.java:13-53 applies
two regexes per document (proposal code ``[1-9]-[0-9]{1,2}-[0-9]{1,4}``
plus CRG variants; DOI ``10.xxxx/...``).  The registered query
``code_extraction`` builds its column with :func:`extract_codes`; the
reference's owned-vs-referenced split (analyser/DoiAnalyser.scala,
ProposalCodeAnalyser.scala, J9) has no registered query and is not
rebuilt.

Spark-first: ``regexp_extract_all`` (Spark 3.1+) keeps extraction inside
codegen; one projection + explode, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PROPOSAL_CODE_RE = r"\b([1-9]-[0-9]{1,2}-[0-9]{1,4}|CRG-[0-9]{1,4})\b"
DOI_RE = r"\b(10\.[0-9]{4,9}/[-._;()/:A-Za-z0-9]+)\b"


def extract_codes(text: Column, pattern: str) -> Column:
    return F.regexp_extract_all(text, F.lit(pattern), 1)
