"""Correctness checks that run after the harness exits, outside every timed
window. Each returns {op id: reason} for operations whose output is wrong.

Both workloads are checked here with DuckDB, an engine independent of
the one under test.
"""


def run(workload, res):
    if workload == "lake_mixed":
        import lake_model
        return lake_model.check(res)
    if workload == "corpus_pipeline":
        import corpus_oracle
        return corpus_oracle.check(res)
    raise ValueError(f"unknown workload {workload}")
