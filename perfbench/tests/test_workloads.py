from perfbench.spans import Tracer
from perfbench.workloads import Run


def test_wrong_output_of_an_untimed_check_fails_the_run():
    run = Run(Tracer(False, "r"))
    assert run.op("ngram", lambda: "pairs", "check.ngram_jaccard_pairs") == "pairs"
    run.mismatch("ngram", "pair with wrong Jaccard", 3)
    assert run.attempted == 1 and run.failed() == 1


def test_wrong_output_fails_every_timed_operation_of_its_phase():
    run = Run(Tracer(False, "r"))
    for _ in range(4):
        run.op("geocode", lambda: None, "geocode")
    assert run.failed() == 0
    run.mismatch("geocode", "missing hit", 2)
    run.mismatch("other", "never timed", 1)
    assert run.failed() == 4 + 1


def test_raising_operation_counts_as_failed():
    run = Run(Tracer(False, "r"))
    assert run.op("minhash", lambda: 1 / 0, "m") is None
    assert run.attempted == 1 and run.failed() == 1


def test_warm_up_operations_count_but_leave_no_sample():
    run = Run(Tracer(False, "r"))
    with run.warming():
        run.op("geocode", lambda: None, "geocode")
        run.op("geocode", lambda: 1 / 0, "geocode")
    run.op("geocode", lambda: None, "geocode")
    assert run.attempted == 3 and run.failed() == 1
    assert len(run.samples["geocode"]) == 1
