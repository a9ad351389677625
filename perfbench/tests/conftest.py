import os
import sys

# the harness imports the checkout's mie_spark and itself as packages
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
