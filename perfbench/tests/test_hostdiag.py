from benchlib import hostdiag


def test_steal_share_is_stolen_over_all_ticks():
    before = [100, 0, 20, 500, 5, 0, 5, 10, 50, 0]
    after = [400, 0, 70, 600, 5, 0, 25, 110, 90, 0]
    # user 300 + system 50 + idle 100 + softirq 20 + steal 100; guest ignored
    assert hostdiag.steal_share(before, after) == 100 / 570
    assert hostdiag.steal_share(before, before) == 0.0


def test_cpu_ticks_reads_the_aggregate_line():
    ticks = hostdiag.cpu_ticks()
    assert len(ticks) >= 8 and all(t >= 0 for t in ticks)
    assert hostdiag.steal_share(ticks, hostdiag.cpu_ticks()) >= 0.0
