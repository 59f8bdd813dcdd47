"""Targeted oracle check: ``tools/driver_emulator.py`` under its older name.

Usage: python tools/check_queries.py name1 name2 ... [--sf-dir DIR]

Every argument goes to the emulator.  ``TABLES`` and ``value_hash`` are
the emulator's, re-exported for code that imports this module.
"""
from driver_emulator import TABLES, main, value_hash  # noqa: F401

if __name__ == "__main__":
    main()
