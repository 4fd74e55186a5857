"""Scripts under ``tools/`` import the package from their own checkout:
a literal absolute path in ``sys.path`` would make a copy of the
repository silently import another checkout's package.  Each script is
also named in the README, so no one-off script outlives its use
unnoticed."""

import ast
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
TOOLS = ROOT / "tools"


def _absolute_sys_path_entries(tree):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("insert", "append")
            and ast.unparse(node.func.value) == "sys.path"
        ):
            for arg in node.args:
                if (
                    isinstance(arg, ast.Constant)
                    and isinstance(arg.value, str)
                    and os.path.isabs(arg.value)
                ):
                    yield node.lineno


def test_tools_import_from_their_own_checkout():
    scripts = sorted(TOOLS.glob("*.py"))
    assert scripts
    offenders = [
        f"{py.name}:{line}"
        for py in scripts
        for line in _absolute_sys_path_entries(ast.parse(py.read_text(), str(py)))
    ]
    assert offenders == []
    # the guard itself sees a literal entry
    assert list(_absolute_sys_path_entries(ast.parse('sys.path.insert(0, "/x/repo")')))


def test_every_tool_is_named_in_readme():
    readme = (ROOT / "README.md").read_text()
    unnamed = [
        py.name for py in sorted(TOOLS.glob("*.py"))
        if f"tools/{py.name}" not in readme
    ]
    assert unnamed == []
