"""Pure numpy/python kernels (no Spark imports).

Everything here works on numpy arrays and is called from the
Arrow-batched Spark workers of ``operators/`` and ``sources/``.
"""
