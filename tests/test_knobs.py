"""Environment variables the engine reads: deployment settings only.

Every tuning constant in ``webr/`` is a plain module constant; an env
override would double the configurations that no test runs. This walks
the package's source and fails on any new ``os.environ``/``os.getenv``
read outside the allowed set.
"""

import ast
import pathlib

ALLOWED = {"WEBR_MASTER", "WEBR_SHUFFLE_PARTITIONS", "WEBR_DRIVER_MEM",
           "PYTHONPATH"}

WEBR = pathlib.Path(__file__).resolve().parent.parent / "webr"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_reads(tree: ast.AST) -> list[str]:
    """Names read via os.environ.get / os.environ[...] / os.getenv; a
    non-literal name is reported as '<dynamic>'."""
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and ((node.func.attr == "get" and _is_environ(node.func.value))
                   or (node.func.attr == "getenv"
                       and isinstance(node.func.value, ast.Name)
                       and node.func.value.id == "os"))):
            key = node.args[0] if node.args else None
        else:
            continue
        names.append(key.value if isinstance(key, ast.Constant)
                     else "<dynamic>")
    return names


def test_env_reads_are_deployment_settings_only():
    found = {}
    for path in sorted(WEBR.rglob("*.py")):
        for name in _env_reads(ast.parse(path.read_text(), str(path))):
            found.setdefault(name, []).append(
                str(path.relative_to(WEBR.parent)))
    assert set(found) <= ALLOWED, {
        k: v for k, v in found.items() if k not in ALLOWED}
    # the walker itself sees the reads that must stay
    assert {"WEBR_MASTER", "WEBR_SHUFFLE_PARTITIONS",
            "WEBR_DRIVER_MEM"} <= set(found)


def test_walker_catches_every_read_form():
    src = ("import os\n"
           "a = os.environ.get('A', '1')\n"
           "b = os.environ['B']\n"
           "c = os.getenv('C')\n"
           "d = os.environ.get(name)\n")
    assert sorted(_env_reads(ast.parse(src))) == ["<dynamic>", "A", "B", "C"]
