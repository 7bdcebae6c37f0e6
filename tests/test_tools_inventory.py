"""tools/ stays in step with what cites and imports it: every tools
script the package, the tests, bench.py or the maintained docs name
exists, and every name a remaining tool imports from the package (or
from a sibling tool) is still defined. Static only — regex over the
citing files, AST over the tools; nothing is imported or run."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"

# Where a cited tool must exist. A citation may be split across a
# comment line break ("tools/" then "# name.py"), or name an attribute
# ("tools/plan_fingerprints.fingerprint_of").
_CITING = ["nfl_data_pipeline_spark", "tests", "bench.py", "README.md",
           "COVERAGE.md", "PARITY.md", ".claude/skills/verify/SKILL.md"]
_CITE = re.compile(r"\btools/\s*(?:#\s*)?(\w+)\.(\w+)")


def _citing_files():
    for rel in _CITING:
        p = ROOT / rel
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def test_cited_tools_exist():
    missing = []
    for path in _citing_files():
        text = path.read_text(encoding="utf-8")
        for m in _CITE.finditer(text):
            name, ext = m.groups()
            if not ((TOOLS / f"{name}.{ext}").exists()
                    or (TOOLS / f"{name}.py").exists()):
                line = text.count("\n", 0, m.start()) + 1
                missing.append(f"{path.relative_to(ROOT)}:{line}: {m[0]}")
    assert not missing, "cited tools that do not exist:\n" + "\n".join(missing)


def _module_file(dotted: str) -> Path | None:
    base = ROOT.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.exists():
            return p
    return None


def _defined_names(path: Path) -> set[str]:
    """Names bound by a module's top-level statements."""
    names: set[str] = set()
    for n in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            names.add(n.name)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in n.names)
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            names.update(
                x.id for t in targets for x in ast.walk(t)
                if isinstance(x, ast.Name)
            )
    return names


@pytest.mark.parametrize(
    "tool", sorted(p.name for p in TOOLS.glob("*.py")), ids=lambda n: n[:-3]
)
def test_tool_imports_resolve(tool):
    """Every ``from nfl_data_pipeline_spark… import name`` (and ``from
    tools.x import name``) in a kept tool names something that exists."""
    tree = ast.parse((TOOLS / tool).read_text(encoding="utf-8"))
    broken = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.module
                and node.module.split(".")[0]
                in ("nfl_data_pipeline_spark", "tools")):
            continue
        mod = _module_file(node.module)
        if mod is None:
            broken.append(f"{node.lineno}: no module {node.module}")
            continue
        defined = _defined_names(mod)
        for a in node.names:
            if (a.name not in defined
                    and _module_file(f"{node.module}.{a.name}") is None):
                broken.append(f"{node.lineno}: {node.module}.{a.name}")
    assert not broken, f"tools/{tool} imports that no longer resolve:\n" + (
        "\n".join(broken)
    )
