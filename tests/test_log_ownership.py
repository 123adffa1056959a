"""The commit log has one owner: ``operators/encode.py`` holds its only
reader and its only writer. Every other package module reads and commits
through them, so no other module names the ``_log`` directory, parses a
log line, or claims a log index (``create_exclusive`` is the claim; the
Iceberg front door keeps its own metadata-version claim)."""

import ast
import pathlib
import re

import pandora_apache_avro_idl_to_apache_parquet_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent
OWNER = ROOT / "operators" / "encode.py"


def _modules():
    return sorted(p for p in ROOT.rglob("*.py") if "__pycache__" not in p.parts)


def test_only_encode_names_the_log_dir_or_parses_log_lines():
    offenders = []
    for path in _modules():
        if path == OWNER:
            continue
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and re.fullmatch(r"_log(/.*)?|_last_checkpoint",
                                     node.value)):
                offenders.append(f"{path.name}:{node.lineno} names {node.value!r}")
        for m in re.finditer(r"loads\(\s*line\s*\)", src):
            offenders.append(f"{path.name}: {m.group(0)}")
    assert not offenders, offenders


def test_only_append_log_entry_and_iceberg_claim_exclusively():
    claims = []
    for path in _modules():
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "create_exclusive"):
                    claims.append((path.relative_to(ROOT).as_posix(), fn.name))
    assert claims, "scan found no claim at all"
    assert {c for c in claims if c[0] != "sources/iceberg.py"} == {
        ("operators/encode.py", "append_log_entry")}
