"""Import extraction and content hashing as built-in column code: the
outputs must equal the Python regexes they replaced (kept verbatim
below as the reference) plus ``hashlib.sha256``, on every input."""

import hashlib
import re
import sys

import pytest

from neo4j_graph_algorithms_spark.sources import (
    extract_imports,
    path_edges,
    repo_edges,
    synthetic_repo_files,
    with_sha256,
)

# the per-language Python patterns the JVM patterns must reproduce
REFERENCE_PATTERNS = {
    "python": re.compile(r"^\s*(?:from|import)\s+([A-Za-z_][\w\.]*)", re.M),
    "java": re.compile(r"^\s*import\s+(?:static\s+)?([A-Za-z_][\w\.]*)\s*;", re.M),
    "javascript": re.compile(
        r"""(?:require\(\s*['"]([^'"]+)['"]\s*\)|from\s+['"]([^'"]+)['"])"""
    ),
    "go": re.compile(r"^\s*(?:import\s+)?\"([\w\./-]+)\"", re.M),
}

SCHEMA = "repo string, path string, commit string, lang string, content string"


def reference_imports(lang, text):
    pat = REFERENCE_PATTERNS.get(lang)
    if pat is None or text is None:
        return []
    found = pat.findall(text)
    if found and isinstance(found[0], tuple):  # multi-group patterns
        found = [next(g for g in t if g) for t in found if any(t)]
    return found


def reference_sha256(text):
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


def assert_matches_reference(df):
    rows = extract_imports(df).select("path", "lang", "content", "imports", "content_sha256")
    rows = rows.collect()
    assert rows
    for r in rows:
        assert r["imports"] == reference_imports(r["lang"], r["content"]), r["path"]
        assert r["content_sha256"] == reference_sha256(r["content"]), r["path"]


def frame(spark, cases):
    return spark.createDataFrame(
        [("r", path, "c", lang, text) for path, lang, text in cases], SCHEMA
    )


def test_matches_reference_on_generated_repo_table(spark):
    assert_matches_reference(synthetic_repo_files(spark, n_repos=20, files_per_repo=5))


EDGE_CASES = [
    ("crlf.py", "python", "import a.b\r\nfrom c import d\r\n  import e\r\n"),
    ("crlf.java", "java", "import a.B;\r\nimport static c.D.e ;\r\n"),
    ("crlf.js", "javascript", "const a = require( 'x' )\r\nimport y from \"z\"\r\n"),
    ("crlf.go", "go", 'import (\r\n\t"fmt"\r\n\t"a/b-c.d"\r\n)\r\n'),
    # separators Python's \s knows but Java's \s does not; \x1c and \x85
    # are also line breaks to str.splitlines but not to re's ^
    ("fs.py", "python", "x = 1\x1cimport a\n\x1cimport b\n"),
    ("nel.py", "python", "x = 1\x85import a\n\x85import b\n"),
    ("ideo.py", "python", "　import a\nimport　b\n"),
    ("ideo.java", "java", "import　a.B　;\n import c;\n"),
    ("ideo.js", "javascript", "require(　'a'　)\nfrom　'b'\nrequire('c' x)"),
    ("ideo.go", "go", '　"a"\nimport　"b"\n'),
    ("cr.py", "python", "x\rimport a\n"),
    ("sq.py", "python", "import x².y³\nimport ²x\n"),
    ("astral.py", "python", "import \U0001d465\U0001d466\nimport a\U00010400b\U0001f600c\n"),
    ("astral.go", "go", '"a\U0001d465/\U00020000"\n"\U0001f600"\n'),
    ("astral.js", "javascript", "require('\U0001f600')\nimport a from '\U00020000'\n"),
    ("null_content.py", "python", None),
    ("null_lang.py", None, "import a\n"),
    ("empty.py", "python", ""),
    ("other.rb", "ruby", "require 'a'\n"),
]


def test_matches_reference_on_edge_cases(spark):
    assert_matches_reference(frame(spark, EDGE_CASES))


def _code_points():
    # every code point that can appear in UTF-8 text (no surrogates)
    return [c for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]


def test_matches_reference_on_every_code_point(spark):
    """Each code point once inside an identifier and once as the
    leading whitespace of an import line, for the \\w and \\s classes of
    every pattern; lines are packed into rows of 4096 code points."""
    cps = _code_points()
    variants = [
        ("python", lambda ch: f"import a{ch}b.c"),
        ("python", lambda ch: f"{ch}import a"),
        ("java", lambda ch: f"import a{ch}b;"),
        ("java", lambda ch: f"{ch}import a;"),
        ("go", lambda ch: f'"a{ch}b"'),
        ("javascript", lambda ch: f"require({ch}'a')"),
    ]
    cases = []
    for v, (lang, line) in enumerate(variants):
        for i in range(0, len(cps), 4096):
            text = "\n".join(line(chr(c)) for c in cps[i:i + 4096])
            cases.append((f"v{v}-{i}", lang, text))
    assert_matches_reference(frame(spark, cases))


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


@pytest.mark.parametrize("build", [path_edges, repo_edges, with_sha256])
def test_no_python_in_extraction_plans(spark, build):
    files = synthetic_repo_files(spark, n_repos=4, files_per_repo=3)
    df = build(files)
    df.count()
    plan = _executed_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
