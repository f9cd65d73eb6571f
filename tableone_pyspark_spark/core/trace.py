"""Job attribution across thread pools.

PySpark's pinned-thread mode does not pass a thread's local properties
(job group, job description, job tags) to plain worker threads, so a
job started from a ``ThreadPoolExecutor`` target runs ungrouped and
undescribed. Every engine pool wraps its targets with
:func:`carry_job_context` instead.
"""

from __future__ import annotations

from pyspark.util import inheritable_thread_target


def carry_job_context(spark):
    """Decorator that runs a pool target under the calling thread's job
    group, description and tags, captured now. Call it in the
    submitting thread. With pinned-thread mode off
    (``PYSPARK_PIN_THREAD=false``) PySpark hands back the session
    itself; threads then share one set of local properties, and there
    is nothing to carry."""
    carry = inheritable_thread_target(spark)
    if carry is spark:
        return lambda fn: fn
    return carry
