"""Lifecycle parity: tools/run_job.py executes an input_info.json-shaped
spec end-to-end (reference driver.py:86-97 contract) — packaged jobs
reproduce the golden solution; arbitrary user map_fn/reduce_fn files
dispatch through the facade."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from run_job import run_spec  # noqa: E402

from tests.reference_replay import (  # noqa: E402
    load_reference_input,
    needs_reference_input,
    replay_inverted_index,
    replay_lines,
    replay_tokens,
    replay_word_count,
)


def _golden_pairs():
    return replay_tokens(replay_lines(load_reference_input()))


@needs_reference_input
def test_inverted_index_spec_matches_golden(spark):
    spec = {
        "input_file_location": "/root/reference/input.txt",
        "no_of_mappers": "3",
        "no_of_reducers": "3",
        "mapper_file": "mapper_inverted_index.py",
        "reducer_file": "reducer_inverted_index.py",
        "project_id": "ignored",
    }
    got = {k: sorted(v) for k, v in run_spec(spark, spec).items()}
    with open("/root/reference/solution_database.json") as f:
        want = {k: sorted(v) for k, v in json.load(f).items()}
    assert got == want


@needs_reference_input
def test_word_count_spec_matches_replay(spark):
    spec = {
        "input_file_location": "/root/reference/input.txt",
        "no_of_mappers": "5",  # offsets invariant to the M hint
        "no_of_reducers": "4",
        "mapper_file": "mapper_word_count.py",
        "reducer_file": "reducer_word_count.py",
    }
    got = run_spec(spark, spec)
    assert got == replay_word_count(_golden_pairs())


@needs_reference_input
def test_arbitrary_python_spec(spark, tmp_path):
    mapper = tmp_path / "my_mapper.py"
    mapper.write_text(
        "def map_fn(row):\n"
        "    for tok in row.line.split(' '):\n"
        "        if tok:\n"
        "            yield (tok.lower(), 1)\n"
    )
    reducer = tmp_path / "my_reducer.py"
    reducer.write_text(
        "OUTPUT_SCHEMA = 'word string, n long'\n"
        "def reduce_fn(key, values):\n"
        "    return sum(values)\n"
    )
    spec = {
        "input_file_location": "/root/reference/input.txt",
        "no_of_mappers": "2",
        "no_of_reducers": "2",
        "mapper_file": str(mapper),
        "reducer_file": str(reducer),
    }
    got = run_spec(spark, spec)
    want: dict[str, int] = {}
    for w, _ in _golden_pairs():
        want[w.lower()] = want.get(w.lower(), 0) + 1
    assert got == want
