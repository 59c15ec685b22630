"""tools/scale_stress.py merges its rows into the committed matrix only
when they were measured on the matrix's own base scale, and never
replaces a prior file it cannot read. Spark-free: the merge step runs on
a temporary file."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "scale_stress.py"
)


@pytest.fixture(scope="module")
def tool():
    spec = importlib.util.spec_from_file_location("scale_stress", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(path, rows):
    path.write_text(json.dumps(rows, indent=1) + "\n")


def test_merges_by_op_and_m_on_the_matrix_base(tool, tmp_path):
    out = tmp_path / "SCALE_STRESS.json"
    _write(
        out,
        [
            {"op": "ivf_search", "m": 1, "n_input": 2000},
            {"op": "pq64_adc", "m": 2, "n_input": 4000},
        ],
    )
    new = [{"op": "ivf_search", "m": 1, "n_input": 2001}]
    assert tool._merge_results(new, str(out), "/data/sf0.1/")
    got = json.loads(out.read_text())
    assert got == [
        {"op": "ivf_search", "m": 1, "n_input": 2001},
        {"op": "pq64_adc", "m": 2, "n_input": 4000},
    ]


def test_other_base_prints_and_leaves_the_matrix(tool, tmp_path, capsys):
    out = tmp_path / "SCALE_STRESS.json"
    _write(out, [{"op": "ivf_search", "m": 1, "n_input": 2000}])
    before = out.read_bytes()
    new = [{"op": "ivf_search", "m": 1, "n_input": 500}]
    assert not tool._merge_results(new, str(out), "/data/sf0.001")
    assert out.read_bytes() == before
    assert "not merging" in capsys.readouterr().err


@pytest.mark.parametrize("prior", ["{not json", '[{"op": "x"}]', "3"])
def test_unreadable_prior_file_is_an_error(tool, tmp_path, prior):
    out = tmp_path / "SCALE_STRESS.json"
    out.write_text(prior)
    with pytest.raises(RuntimeError, match="unreadable"):
        tool._merge_results([{"op": "y", "m": 1}], str(out), "/data/sf0.1")
    assert out.read_text() == prior
